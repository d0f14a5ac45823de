from __future__ import annotations

import contextlib
import os
import shutil
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMALL = "/root/testdata/sf0.001"
SF_MED = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("GUAC_SPARK_WH", "/tmp/guac_spark_wh_test")
    shutil.rmtree("/tmp/guac_spark_wh_test", ignore_errors=True)
    from guac_spark.session import get_spark

    s = get_spark(app_name="guac_spark_tests", cpus=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture
def gate_sides(monkeypatch):
    """Iterate "driver", then "distributed": the one driver gate
    (cc.driver_edges at cc.DRIVER_EDGE_LIMIT rows), which connected
    components, graph's BFS, shortest path and toposort, the embedding
    searches (similarity's brute-force, LSH and IVF top-k and LSH
    near-dup pairs) and document dedup's MinHash pairs (and near-dup
    clusters through them) all pass through, is at 0 rows for the second
    pass, so `for side in gate_sides:` runs its body on both sides."""
    from guac_spark import cc

    def sides():
        yield "driver"
        monkeypatch.setattr(cc, "DRIVER_EDGE_LIMIT", 0)
        yield "distributed"

    return sides()


@pytest.fixture
def distributed(monkeypatch):
    """Every non-empty relation takes the distributed side of the driver
    gate: graph's frontier joins, cc's label rounds, similarity's Spark
    plans and dedup's MinHash bucket plan."""
    from guac_spark import cc

    monkeypatch.setattr(cc, "DRIVER_EDGE_LIMIT", 0)


@contextlib.contextmanager
def job_group(spark, group: str):
    """Tag the calling thread's Spark jobs with `group`; untag on exit."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def group_jobs(spark, group: str) -> int:
    """Jobs the status store holds for job group `group`."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.exists(path):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )
    return con


@pytest.fixture(scope="session")
def duck_small():
    return duck_con(SF_SMALL)


def num_buckets(spark, wh_root: str, table: str) -> int:
    """Catalog `Num Buckets` of a committed bucketed snapshot."""
    from guac_spark.warehouse import Warehouse

    cat = Warehouse(wh_root)._read_log()["tables"][table]["catalog_table"]
    rows = spark.sql(f"DESCRIBE TABLE EXTENDED {cat}").collect()
    return int(next(r.data_type for r in rows if r.col_name == "Num Buckets"))


def extraction_scans(transcripts):
    """Both renderings of the mention grammar, keyed by name: the fused
    JVM scan the pipeline runs and its Arrow reference kernel."""
    from guac_spark import extract

    ref = transcripts.select("conv_id", "turn_idx", "text").mapInPandas(
        extract._extract_fused_batch, extract.FUSED_SCHEMA
    )
    return {"jvm": extract.extract_mentions_fused(transcripts), "arrow": ref}


def normalize_rows(cols, rows):
    """Driver-style normalization: sort columns by name, stringify cells,
    sort rows — order- and dtype-insensitive multiset comparison."""
    import math

    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def norm(v):
        if v is None:
            return ""
        if isinstance(v, float):
            if math.isnan(v):
                return "nan"
            if v == int(v) and abs(v) < 1e15:
                return str(int(v))
            return f"{v:.9g}"
        if isinstance(v, bool):
            return str(int(v))
        if hasattr(v, "item"):
            return norm(v.item())
        return str(v)

    return sorted(tuple(norm(r[i]) for i in order) for r in rows)
