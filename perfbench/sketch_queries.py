"""The sketch-query mix: one pass over 13 registered ``__spark_entry__``
queries, each output compared with its ``oracle_sql()`` result in
DuckDB.

These are short jobs where fixed per-job costs dominate: Python worker
boot, broadcasts, small shuffles and driver collect. The mix covers the
build, probe and grouped sketch paths plus ``dedup``. The tables have
the same shapes and value ranges as the TPC-H-style test data the
queries are gated on. Like that data they are fixed (``TABLE_SEED``):
several queries check that an estimate falls inside its error band,
which some random tables miss by chance. The run's seed permutes the
query order.

One pass takes about 30 s, longer than a measured run can spend on it,
so the mix is not a workload of its own: the traced ``transcript_cm``
run makes one pass after its measured operations and reports
``query.<name>_s`` for each member.
"""

from __future__ import annotations

import os
import random
import sys

import duckdb
import numpy as np
import pandas as pd

from perfbench.harness import now

MIX = [
    "cm_conservative_user_freq", "occm_user_freq", "cmm_user_freq",
    "countsketch_event_freq", "cm_packed_user_freq", "cs4w_user_freq",
    "hll_distinct_tokens", "hll_distinct_per_lang",
    "cardinality_siblings_shingles", "setsim_siblings_langs",
    "kll_quantiles_price", "bloom_semijoin_lineitem", "dedup_minhash",
]
TABLE_SEED = 5
# one size for every run: smaller tables miss the error bands, and the
# pass costs about the same, being dominated by fixed per-job costs
ROWS = {"events": 10_000, "users": 1_500, "documents": 500,
        "orders": 15_000, "lineitem": 60_000}
EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
LANGS = np.array(["en", "zh", "de", "fr", "es"])
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = np.array(
    "row the query stream key agg scan slow table part a merge window "
    "order column join vector value hash batch sort data big filter dup "
    "fast spark line small customer group".split())


def make_tables(seed: int) -> dict[str, pd.DataFrame]:
    n = ROWS
    rng = np.random.default_rng(seed)
    ev = n["events"]
    events = pd.DataFrame({
        "event_id": np.arange(ev, dtype=np.int64),
        "ts": (np.datetime64("2024-01-01T00:00:00", "us")
               + np.cumsum(rng.integers(1, 60_000_000, ev))
               .astype("timedelta64[us]")),
        "user_id": rng.integers(0, n["users"], ev),
        "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), ev)],
        "value": np.round(rng.exponential(50.0, ev) + 0.01, 2),
    })
    nd = n["documents"]
    lengths = rng.integers(10, 100, nd)
    documents = pd.DataFrame({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": [" ".join(WORDS[rng.integers(0, len(WORDS), k)])
                 for k in lengths],
        "lang": LANGS[rng.choice(len(LANGS), nd, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(nd)],
    })
    documents["n_chars"] = documents["text"].str.len().astype(np.int64)
    no = n["orders"]
    orders = pd.DataFrame({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
    })
    nl = n["lineitem"]
    lineitem = pd.DataFrame({
        "l_orderkey": rng.integers(0, no, nl),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, nl), 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
    })
    return {"events": events, "documents": documents, "orders": orders,
            "lineitem": lineitem}


def compute_oracles(con, names: list[str]) -> dict[str, pd.DataFrame]:
    import __spark_entry__ as E
    sql = E.oracle_sql()
    return {name: con.execute(sql[name]).df() for name in names}


def _compare():
    """``tools/compare_oracle.compare``, imported without keeping the
    path entry that module adds on import."""
    saved = list(sys.path)
    try:
        from tools.compare_oracle import compare
    finally:
        sys.path[:] = saved
    return compare


class QueryMix:
    def __init__(self, work_dir: str, seed: int):
        self.dir = os.path.join(work_dir, "tables")
        self.order = list(MIX)
        random.Random(seed).shuffle(self.order)

    def prepare(self) -> None:
        """Write the tables and compute every oracle; needs no Spark."""
        import __spark_entry__ as E
        self.queries = E.queries()
        self.compare = _compare()
        os.makedirs(self.dir)
        con = duckdb.connect()
        con.execute("SET temp_directory = "
                    f"'{os.path.join(self.dir, 'duckdb.tmp')}'")
        for table, pdf in make_tables(TABLE_SEED).items():
            path = os.path.join(self.dir, f"{table}.parquet")
            pdf.to_parquet(path, index=False)
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM "
                        f"read_parquet('{path}')")
        self.oracles = compute_oracles(con, MIX)
        con.close()

    def run(self, spark, tracer) -> tuple[dict, dict]:
        """One pass; returns (``query.<name>_s`` of every member, the
        pass's attempted/failed record). A wrong or broken query fails
        only itself."""
        latency, failed = {}, 0
        for name in self.order:
            try:
                with tracer.span(f"query.{name}"):
                    t0 = now()
                    got = self.queries[name](spark, self.dir).toPandas()
                    latency[f"query.{name}_s"] = now() - t0
                issues = self.compare(got, self.oracles[name])
            except Exception as exc:
                issues = [f"{type(exc).__name__}: {exc}"]
            if issues:
                failed += 1
                print(f"[perfbench] {name} mismatch: {'; '.join(issues)}",
                      file=sys.stderr)
        return latency, {"attempted": len(self.order), "failed": failed}
