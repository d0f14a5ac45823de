"""Output checks against DuckDB, run outside the timed region.

Tables are compared by fingerprint: row count plus an order-independent
sum of a 32-bit prefix of each row's sha256, computed by DuckDB both over
the committed snapshot's parquet files and over the package's own oracle
SQL (`guac_spark.oracle.KG_PRELUDE`, with its CTEs materialized so each
is evaluated once). Query results are compared row for row against
the oracle's SQL for that query, run by DuckDB over the committed parquet
files, with the oracle's constant arguments swapped for the seeded ones.
"""

from __future__ import annotations

import math
import os
import re
from decimal import Decimal

import duckdb
from guac_spark import oracle

# table -> (oracle CTE, columns); mentions_linked is compared through the
# distinct linked-mention surface the oracle defines
TABLES: dict[str, tuple[str, list[str]]] = {
    "alias_dict": ("alias_dict", ["alias", "entity_id", "kind", "prior"]),
    "transcripts": ("transcripts",
                    ["conv_id", "turn_idx", "role", "text", "tool", "ts_us"]),
    "mentions_linked": ("(SELECT DISTINCT kind, surface, entity_id "
                        "FROM linked)", ["kind", "surface", "entity_id"]),
    "equivalences": ("equivalences", ["src", "dst"]),
    "cc_mapping": ("cc_mapping", ["node", "component"]),
    "triples": ("triples",
                ["conv_id", "turn_idx", "subj", "pred", "obj", "span"]),
    "vertices": ("vertices", ["vertex_id", "kind", "canonical"]),
    "edges": ("edges",
              ["edge_id", "src", "dst", "pred", "origin", "document_ref"]),
}


def _materialized_prelude() -> str:
    # the recursive closure must stay inline; every other CTE is read by
    # several fingerprints and is cheaper computed once
    return re.sub(
        r"^(\w+) AS \(",
        lambda m: m.group(0) if m.group(1) == "reach"
        else f"{m.group(1)} AS MATERIALIZED (",
        oracle.KG_PRELUDE, flags=re.M,
    )


def _events_con(inputs: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("CREATE VIEW events AS SELECT * FROM read_parquet("
                f"'{os.path.join(inputs, 'events.parquet')}')")
    return con


def _fingerprints(con: duckdb.DuckDBPyConnection, rels: dict[str, str],
                  prelude: str = "") -> dict[str, tuple[int, int]]:
    """(row count, order-independent hash sum) of each table's relation."""
    def one(table: str, rel: str) -> str:
        row = " || '|' || ".join(
            f"coalesce(cast({c} AS VARCHAR), '~')" for c in TABLES[table][1])
        return (f"SELECT '{table}', count(*), coalesce(sum(cast(('0x' || "
                f"substr(sha256({row}), 1, 8)) AS UBIGINT)), 0) FROM {rel}")

    sql = prelude + "\n" + "\nUNION ALL\n".join(
        one(t, rel) for t, rel in rels.items())
    return {t: (int(n), int(h)) for t, n, h in con.execute(sql).fetchall()}


def oracle_fingerprints(inputs: str) -> dict[str, tuple[int, int]]:
    rels = {t: rel for t, (rel, _) in TABLES.items()}
    rels["transcripts"] = "(SELECT *, epoch_us(ts) AS ts_us FROM transcripts)"
    con = _events_con(inputs)
    try:
        return _fingerprints(con, rels, _materialized_prelude())
    finally:
        con.close()


def committed_fingerprints(paths: dict[str, list[str]]
                           ) -> dict[str, tuple[int, int]]:
    """Fingerprints of committed snapshots (table -> snapshot directories),
    read from their parquet files by DuckDB and projected the way the
    oracle defines each table."""
    def scan(table: str) -> str:
        globs = [os.path.join(p, "**", "*.parquet") for p in paths[table]]
        return f"read_parquet({globs!r}, hive_partitioning = true)"

    rels = {t: scan(t) for t in TABLES}
    rels["transcripts"] = (f"(SELECT *, epoch_us(ts) AS ts_us "
                           f"FROM {scan('transcripts')})")
    rels["mentions_linked"] = (
        f"(SELECT DISTINCT kind, surface, entity_id "
        f"FROM {scan('mentions_linked')} WHERE kind != 'aka')")
    con = duckdb.connect()
    try:
        return _fingerprints(con, rels)
    finally:
        con.close()


def _norm(v) -> str:
    if v is None:
        return ""
    if isinstance(v, bool):
        return str(int(v))
    if hasattr(v, "item"):
        return _norm(v.item())
    return str(v)


def _split(row) -> tuple[tuple, tuple]:
    """(exact cells as strings, numeric cells as floats)."""
    key, nums = [], []
    for v in row:
        if isinstance(v, (float, Decimal)):
            key.append("")
            nums.append(float(v))
        else:
            key.append(_norm(v))
    return tuple(key), tuple(nums)


def same_rows(got, want, tol: float = 2e-6) -> bool:
    """Multiset equality of rows in the same column order, with float
    cells equal within tol: the engines round 6-decimal ties differently
    (Spark rounds the decimal value half up, DuckDB the binary double),
    so a tie may differ in its last digit."""
    if len(got) != len(want):
        return False
    return all(
        kg == kw and all(math.isclose(a, b, rel_tol=0, abs_tol=tol)
                         for a, b in zip(fg, fw))
        for (kg, fg), (kw, fw) in zip(sorted(map(_split, got)),
                                      sorted(map(_split, want)))
    )


def duck_rows(sql: str, views: dict[str, str], cols: list[str] | None = None
              ) -> tuple[list[str], list[tuple]]:
    """Run sql in DuckDB with each name in views bound to a parquet glob;
    optionally keep only the named result columns."""
    con = duckdb.connect()
    try:
        for name, glob in views.items():
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                        f"read_parquet({glob!r})")
        cur = con.execute(sql)
        names = [d[0] for d in cur.description]
        rows = cur.fetchall()
    finally:
        con.close()
    if cols is None:
        return names, rows
    idx = [names.index(c) for c in cols]
    return cols, [tuple(r[i] for i in idx) for r in rows]


def graph_oracle(query: str, subst: dict[str, str]) -> str:
    """oracle.ORACLES[query] over relations named `edges`/`vertices`
    instead of the regenerated chain, with literals replaced per subst."""
    sql = oracle.ORACLES[query]
    if not sql.startswith(oracle.KG_PRELUDE):
        raise ValueError(f"{query} is not written over the KG prelude")
    tail = sql[len(oracle.KG_PRELUDE):]
    if subst:
        # one pass, so a new value is never rewritten by a later key
        tail = re.sub("|".join(map(re.escape, subst)),
                      lambda m: subst[m.group(0)], tail)
    return ("WITH RECURSIVE edges AS (SELECT * FROM edges_committed), "
            "vertices AS (SELECT * FROM vertices_committed)" + tail)
