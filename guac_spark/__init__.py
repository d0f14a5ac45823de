"""guac_spark — a from-scratch PySpark-native knowledge-graph construction engine.

Plays the role of guacsec/guac (reference at /root/reference, read-only):
parse -> canonicalize -> assemble a deduplicated property graph, then answer
neighbor / path / filter queries over it — but over tables of multi-turn
conversation/agent transcripts (conv_id, turn_idx, role, text, tool, ts),
expressed Spark-first: DataFrame/SQL plans optimized by Catalyst, vectorized
pandas/Arrow UDFs for per-turn text work, map-side partial aggregation for
hot keys, and snapshot-committed tables with per-partition lineage for exact
resume.

Reference parity map lives in SURVEY.md §2; each module cites the reference
files (file:line) whose *semantics* it re-expresses. No reference code is
copied — the reference is a row-at-a-time Go/RPC system; this is a batched,
columnar, shuffle-partitioned dataflow.
"""

__version__ = "0.1.0"
