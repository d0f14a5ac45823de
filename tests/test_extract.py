"""Extraction: JVM scan vs Arrow reference parity, negative fixtures,
staging dedupe."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from guac_spark import corpus, extract
from tests.conftest import SF_SMALL, extraction_scans


def _multiset(df):
    return sorted(map(tuple, df.collect()))


def _aka_rows(fused):
    return fused.filter(F.col("kind") == "aka").select(
        "conv_id", "turn_idx", "surface", "surface_b"
    )


def _aka_pairs(fused):
    return [(r["surface"], r["surface_b"]) for r in _aka_rows(fused).collect()]


def test_arrow_and_sql_engines_agree(spark):
    # the JVM-expression scan the pipeline runs must reproduce the Arrow
    # reference kernel on both slices: mention rows (kind != 'aka') and
    # aka equivalence pairs (kind = 'aka')
    t = corpus.transcripts(spark, SF_SMALL)
    got, want = extraction_scans(t).values()
    got_m = _multiset(extract.mentions_only(got))
    assert got_m == _multiset(extract.mentions_only(want))
    got_a = _multiset(_aka_rows(got))
    assert got_a == _multiset(_aka_rows(want))
    assert got_m and got_a  # the corpus exercises both slices


def test_fused_extraction_matches_separate(spark):
    # the one fused scan (map-of-arrays explode, contains() gates, aka
    # pair joined and split on a separator) must reproduce one ungated
    # scan per rule: surface_span_arr per mention pattern, and the two
    # AKA_RE capture groups zipped positionally
    t = corpus.transcripts(spark, SF_SMALL)
    want_m = None
    for kind, pat in extract.MENTION_PATTERNS:
        one = t.select(
            "conv_id",
            "turn_idx",
            F.lit(kind).alias("kind"),
            F.explode(
                extract.surface_span_arr(pat, extract.MARKER_PREFIX[kind])
            ).alias("e"),
        ).select("conv_id", "turn_idx", "kind", "e.s", "e.sp")
        want_m = one if want_m is None else want_m.unionAll(one)
    want_a = t.select(
        "conv_id",
        "turn_idx",
        F.explode(
            F.arrays_zip(
                F.regexp_extract_all("text", F.lit(extract.AKA_RE), F.lit(1)),
                F.regexp_extract_all("text", F.lit(extract.AKA_RE), F.lit(2)),
            )
        ).alias("p"),
    ).select("conv_id", "turn_idx", "p.*")
    fused = extract.extract_mentions_fused(t)
    got_m = _multiset(extract.mentions_only(fused))
    assert got_m == _multiset(want_m)
    got_a = _multiset(
        _aka_rows(fused).select("conv_id", "turn_idx", "surface", "surface_b")
    )
    assert got_a == _multiset(want_a)
    assert got_m and got_a  # the corpus exercises both slices


def _mini(spark, texts):
    now = datetime.datetime(2024, 1, 1)
    rows = [("c0", i, "user", t, None, now) for i, t in enumerate(texts)]
    return spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )


def test_no_mentions_emits_zero_rows_not_nulls(spark):
    t = _mini(spark, ["nothing to see here", "", "   ", "UPPER @Case-Bad"])
    for m in extraction_scans(t).values():
        rows = extract.mentions_only(m).collect()
        # '@Case-Bad' starts uppercase -> no match under [a-z][a-z-]*
        assert all(r["surface"] is not None for r in rows)
        person = [r for r in rows if r["kind"] == "person"]
        assert person == [] or all(
            r["surface"] == "ase-bad" for r in person
        )  # lowercase tail after 'C' only if regex engine matched mid-token


def test_mixed_grammar_single_turn(spark):
    t = _mini(
        spark,
        ["ping @ada-lovelace on #topic_3 via tool:tool_purchase >>0 "
         "and @grace-hopper aka @grace-hopperr"],
    )
    for f in extraction_scans(t).values():
        kinds = {r["kind"] for r in extract.mentions_only(f).collect()}
        assert kinds == {"person", "topic", "tool", "reply"}
        assert _aka_pairs(f) == [("grace-hopper", "grace-hopperr")]


def test_multiple_aka_per_turn_both_engines(spark):
    # two aka patterns in one turn: both scans must emit BOTH pairs
    # (regression: the JVM scan used to take only the first match)
    t = _mini(
        spark,
        ["@ada-lovelace aka @ada-l and @grace-hopper aka @grace-h done"],
    )
    want = [("ada-lovelace", "ada-l"), ("grace-hopper", "grace-h")]
    for name, f in extraction_scans(t).items():
        assert sorted(_aka_pairs(f)) == want, name


def test_staging_dedupe_by_content_hash(spark):
    t = _mini(spark, ["dup text", "other"])
    staged = t.unionByName(t.limit(1))  # duplicate row 0
    assert staged.count() == 3
    deduped = extract.dedupe_staging(staged)
    assert deduped.count() == 2


def test_person_boundary_excludes_tool_version_suffix(spark):
    """ADVICE r3: 'tool:vec_db@v2' must not fabricate a person mention
    'v' — PERSON_RE requires a non-alphanumeric boundary (or start of
    text) before '@', in both scans."""
    t = _mini(
        spark,
        ["run tool:vec_db@v2 now", "@ada-lovelace leads", "see (@alan-turing)"],
    )
    for name, f in extraction_scans(t).items():
        m = extract.mentions_only(f).collect()
        persons = sorted(r["surface"] for r in m if r["kind"] == "person")
        assert persons == ["ada-lovelace", "alan-turing"], (name, persons)
        tools = [r["surface"] for r in m if r["kind"] == "tool"]
        assert tools == ["vec_db@v2"]


def test_events_rows_matches_count_on_single_and_multi_file(spark, tmp_path):
    """_events_rows (footer-based universe sizing) must equal a real
    count() on both layouts: the driver's single-file events.parquet and
    a multi-file directory table (the replicated scaling corpus)."""
    from guac_spark.corpus import _events_rows, load_events

    assert _events_rows(SF_SMALL) == load_events(spark, SF_SMALL).count()

    multi = str(tmp_path / "sfdir")
    ev = load_events(spark, SF_SMALL)
    ev.repartition(3).write.parquet(f"{multi}/events.parquet")
    assert _events_rows(multi) == ev.count()


def test_sparse_event_ids_drop_no_transcript_rows(spark, tmp_path):
    """ADVICE r5 (medium): the generated-pid universe must cover BOTH
    corpus-join residue expressions. With event_ids ≡ 30 (mod np) the
    pid1 set is {30} but every row's pid2 is 37 — an alias_full derived
    from pid1 residues alone silently drops ALL transcript rows at the
    corpus inner join (and the oracle, running identical SQL, cannot see
    the loss). Both engines must retain every turn and stay in parity."""
    import duckdb as _duckdb
    from pyspark.sql import functions as F

    from guac_spark import corpus

    n, np_ = 2000, 40  # np = max(25, 2000/50) = 40
    sf_dir = str(tmp_path / "sparse")
    ev = spark.range(n).select(
        (F.col("id") * np_ + 30).alias("event_id"),  # ≡ 30 (mod 40)
        (F.timestamp_seconds(F.lit(1700000000) + F.col("id") * 3600))
        .alias("ts"),
        (F.col("id") % 100).cast("long").alias("user_id"),
        F.element_at(
            F.array(*[F.lit(t) for t in
                      ["click", "view", "purchase", "error", "signup"]]),
            (F.col("id") % 5 + 1).cast("int"),
        ).alias("event_type"),
        (F.col("id") % 97).cast("double").alias("value"),
        F.lit('{"k": 1}').alias("props"),
    )
    ev.coalesce(1).write.parquet(f"{sf_dir}/events.parquet")

    got_np, _nt = corpus.universe(corpus._events_rows(sf_dir))
    assert got_np == np_
    t = corpus.transcripts(spark, sf_dir)
    assert t.count() == n  # every event becomes a turn — nothing dropped

    # pid2-only residue (37) is in the dictionary universe too
    adict = corpus.alias_dict(spark, sf_dir)
    gen_aliases = {
        r["alias"] for r in adict.filter("kind = 'person'").collect()
    } - set(corpus.PERSONS)
    assert len(gen_aliases) == 2  # residues {30, 37}

    # oracle parity on the sparse corpus (shared templates, same counts)
    con = _duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf_dir}/events.parquet/*.parquet')"
    )
    dn = con.execute(
        corpus.duckdb_prelude() + " SELECT count(*) FROM transcripts"
    ).fetchone()[0]
    assert dn == n
