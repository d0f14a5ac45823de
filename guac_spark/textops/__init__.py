"""Training-data pipeline operators over document/embedding tables.

First-class components alongside the KG engine: deduplication (exact,
MinHash-LSH, SimHash, n-gram Jaccard, embedding-cosine), similarity search
(brute-force + LSH-bucketed ANN), text analysis (language ID, quality
scoring, token counting, fingerprinting).
"""
