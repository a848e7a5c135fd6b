"""Correctness checks that do not go through the engine's read path.

* ``table_mismatches``: DuckDB over the data files the head manifest
  lists, deduplicated by ``_rev``, against the generator's own oracle
  (``compute_oracle``) over the change log it wrote.
* ``DocState``: an incremental pandas replay of change-log epochs, the
  benchmark-side oracle for lookups, scans and feed increments.
* ``registry_mismatches``: each query's Spark result against its DuckDB
  oracle SQL over the same parquet tables.
"""

from __future__ import annotations

import json
import math
import os
import re

import duckdb
import pandas as pd

from bitcoin_etl_spark.changelog.generator import compute_oracle, is_valid_event

PAYLOAD = ("doc_id", "tokens", "n_tok", "source")


def doc_row(r) -> tuple:
    doc, toks, n, src = r
    return (doc, None if toks is None else tuple(int(t) for t in toks),
            None if n is None or pd.isna(n) else int(n), src)


def _sql_list(paths: list[str]) -> str:
    return "[" + ", ".join("'" + p.replace("'", "''") + "'" for p in paths) + "]"


def head_files(table_path: str) -> list[str]:
    mdir = os.path.join(table_path, "manifest")
    head = max(int(m.group(1)) for f in os.listdir(mdir)
               if (m := re.match(r"^v(\d+)\.json$", f)))
    with open(os.path.join(mdir, f"v{head}.json")) as f:
        man = json.load(f)
    return [os.path.join(table_path, e["path"]) for e in man["files"]]


def expected_docs(changes_dir: str) -> list[tuple]:
    """The generator's final-state oracle for every epoch under
    ``changes_dir``, as sorted payload tuples."""
    frames = [pd.read_parquet(os.path.join(changes_dir, d))
              for d in sorted(os.listdir(changes_dir),
                              key=lambda d: int(d.split("=")[1]))]
    exp = compute_oracle(frames)
    return [doc_row(r) for r in exp[list(PAYLOAD)].itertuples(index=False)]


def table_mismatches(table_path: str, exp_rows: list[tuple],
                     limit: int = 5) -> list[str]:
    files = head_files(table_path)
    con = duckdb.connect()
    try:
        got = []
        if files:
            got = con.execute(
                f"""SELECT {', '.join(PAYLOAD)} FROM (
                      SELECT *, row_number() OVER (
                        PARTITION BY doc_id ORDER BY _rev DESC) AS rn
                      FROM read_parquet({_sql_list(files)}, union_by_name=true,
                                        hive_partitioning=false))
                    WHERE rn = 1 AND NOT _deleted ORDER BY doc_id""").fetchall()
    finally:
        con.close()
    got_rows = [doc_row(r) for r in got]
    if got_rows == exp_rows:
        return []
    out = [f"{table_path}: {len(got_rows)} live rows, expected {len(exp_rows)}"]
    gd = {r[0]: r for r in got_rows}
    ed = {r[0]: r for r in exp_rows}
    for k in sorted(set(gd) | set(ed)):
        if gd.get(k) != ed.get(k):
            out.append(f"  {k}: got {gd.get(k)} expected {ed.get(k)}")
            if len(out) > limit:
                break
    return out


class DocState:
    """Live documents after replaying epochs in order: invalid events are
    dropped, the last event per key wins, and a delete removes the key."""

    def __init__(self):
        self.docs: dict[str, tuple] = {}

    def apply(self, frame: pd.DataFrame) -> int:
        """Apply one epoch; return the number of net changes a change feed
        over it must deliver (upserts, plus deletes of live keys)."""
        f = frame[is_valid_event(frame)].sort_values("seq")
        last = f.drop_duplicates("doc_id", keep="last")
        changes = 0
        for doc, op, toks, n, src in zip(last["doc_id"], last["op"],
                                         last["tokens"], last["n_tok"],
                                         last["source"]):
            if op == "D":
                changes += self.docs.pop(doc, None) is not None
            else:
                self.docs[doc] = doc_row((doc, toks, n, src))
                changes += 1
        return changes


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, float):
        return None if math.isnan(v) else round(v, 6)
    if isinstance(v, int):
        return v
    return str(v)


def _norm(tbl) -> list[tuple]:
    cols = sorted(tbl.schema.names)
    rows = tbl.select(cols).to_pylist()
    return sorted((tuple(_norm_cell(r[c]) for c in cols) for r in rows),
                  key=lambda t: tuple(str(x) for x in t))


def registry_mismatches(spark, sf_dir: str, names: list[str],
                        tables: list[str]) -> list[str]:
    from bitcoin_etl_spark.plans.queries import ORACLES, QUERIES

    con = duckdb.connect()
    out = []
    try:
        for t in tables:
            p = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.exists(p):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet({_sql_list([p])})")
        for name in names:
            if name not in ORACLES:
                continue
            s = QUERIES[name](spark, sf_dir).toArrow()
            d = con.execute(ORACLES[name]).arrow()
            if sorted(s.schema.names) != sorted(d.schema.names):
                out.append(f"{name}: columns {s.schema.names} vs {d.schema.names}")
            elif _norm(s) != _norm(d):
                out.append(f"{name}: rows differ ({s.num_rows} vs {d.num_rows})")
    finally:
        con.close()
    return out
