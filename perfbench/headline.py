"""``headline_suite``: the 17 ``bench.py`` HEADLINE queries, end to end.

Each query is timed as construction (``queries()[name](spark, dir)``,
which includes view registration and any eager ``localCheckpoint``)
plus a noop-sink action, over tables generated from the seed. The
warm-up pass collects every result instead and checks it against the
query's DuckDB oracle (``oracle_sql()`` / ``retired_oracle_sql()``) on the
same parquet files: same columns, same row count, same order-independent
content.
"""

from __future__ import annotations

import hashlib
import os

import tables

SCALE = 0.02  # 30k orders, ~120k line items, 1,000 documents


def _canon(df):
    """Columns sorted by name, values rendered, rows sorted: the
    order-independent form both engines' results are compared in."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object or str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def content_hash(df) -> str:
    """Order-independent hash of a canonical frame."""
    h = hashlib.sha256()
    h.update(",".join(df.columns).encode())
    for row in df.itertuples(index=False):
        h.update(repr(tuple(row)).encode())
    return h.hexdigest()[:16]


class HeadlineSuite:
    name = "headline_suite"
    warmup_cycles = 1
    round_cycles = 1
    round_s = 20.0
    max_cycles = 8

    def __init__(self, run):
        import bench
        import __spark_entry__ as entrymod

        self.run = run
        self.entry = entrymod
        self.names = list(bench.HEADLINE)
        self.queries = {**entrymod.retired_queries(), **entrymod.queries()}
        # q40 materializes its oracle's inputs once per table dir; keep
        # them inside the checkout
        entrymod._Q40_ROOT = run.path("q40")
        self.fingerprint: dict[str, list] = {"rows": [], "hash": []}

    def build(self) -> None:
        self.dir = self.run.path("tables")
        self.counts = tables.build_tables(self.dir, self.run.seed, SCALE)

    def cycle(self, i: int) -> None:
        spark, run = self.run.spark, self.run
        verify = i < self.warmup_cycles
        results = {}
        for name in self.names:
            with run.span(f"entry.{name}.build", op=i):
                df = self.queries[name](spark, self.dir)
            with run.span(f"entry.{name}.action", op=i):
                if verify:
                    results[name] = df.toPandas()
                else:
                    df.write.format("noop").mode("overwrite").save()
        if verify:
            self._check_oracles(results)

    def _check_oracles(self, results) -> None:
        import duckdb

        self.entry.GATE_SF_DIR = self.dir  # q40's oracle reads this dir's materialization
        oracles = {**self.entry.retired_oracle_sql(), **self.entry.oracle_sql()}
        con = duckdb.connect()
        try:
            con.execute(f"SET threads = {self.run.cpus}")
            con.execute(f"SET temp_directory = '{self.run.path('duckdb')}'")
            for t in tables.TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(self.dir, t)}.parquet')")
            for name in self.names:
                got = results[name]
                want = con.execute(oracles[name]).df()
                a, b = _canon(got), _canon(want)
                ok = list(a.columns) == list(b.columns) and len(a) == len(b)
                if ok:
                    ok = content_hash(a) == content_hash(b)
                self.fingerprint["rows"].append(len(a))
                self.fingerprint["hash"].append(content_hash(a))
                self.run.check(ok, f"{name}: spark {len(a)} rows {list(a.columns)} vs oracle {len(b)} rows {list(b.columns)}")
        finally:
            con.close()

    def report(self, run, since: int) -> dict[str, float]:
        """``suite_s`` and each query's ``entry.<query>.e2e_s``: medians
        over the timed passes since span ``since``."""
        from stats import median

        spans = [s for s in run.spans[since:] if s.name.startswith("entry.")]
        passes = sorted({s.op for s in spans})
        out = {"suite_s": median([sum(s.seconds for s in spans if s.op == p) for p in passes])}
        for name in self.names:
            e2e = [b + a for b, a in zip(run.seconds_of(f"entry.{name}.build", since), run.seconds_of(f"entry.{name}.action", since))]
            out[f"entry.{name}.e2e_s"] = median(e2e)
        return out

    def layers(self, run, since: int) -> dict[str, float]:
        """Construction and action per pass, split: medians over the
        timed passes since span ``since``."""
        from stats import median

        spans = [s for s in run.spans[since:] if s.name.startswith("entry.")]
        passes = sorted({s.op for s in spans})
        build = [sum(s.seconds for s in spans if s.op == p and s.name.endswith(".build")) for p in passes]
        action = [sum(s.seconds for s in spans if s.op == p and s.name.endswith(".action")) for p in passes]
        return {"entry.build_s": median(build), "entry.action_s": median(action)}

    def verify(self) -> None:
        """Results were checked against the oracles in the warm-up pass."""
