"""``queries``: a fixed subset of the operator registry on seeded tables.

The subset holds the queries the roadmap names as slow or suspect
(``hybrid_rrf_topk``, ``ngram_jaccard_top1``, ``dedup_embedding_cosine``,
``ann_ivfpq_topk``, ``ann_pq_topk``, ``cube_year_flag``,
``winnowing_fingerprints``) plus one query from each of three other operator
families (TPC-H aggregation, event windows, text statistics). A cycle runs
each query once and collects its rows; the first cycle of a session is the
one a batch user of the registry sees, so it is timed too. Only the
``operators`` layer runs: no lakehouse table is touched.

Outputs are checked after the timed loop: a query with a DuckDB twin in
``oracle_sql()`` must match it by the canonical hash of
``tools/check_oracle.py``; a query without one must return the same rows
in every cycle.
"""

from __future__ import annotations

import os
import statistics
import time

import harness
from harness import Run, geomean, repeated_build

# cheap first: the first query of a session also pays the session's
# one-time planning costs
QUERIES = [
    "q1_pricing_summary",
    "cube_year_flag",
    "events_sessionize",
    "winnowing_fingerprints",
    "tfidf_top_terms",
    "dedup_embedding_cosine",
    "ann_pq_topk",
    "ann_ivfpq_topk",
    "ngram_jaccard_top1",
    "hybrid_rrf_topk",
]
# Scale factor of the generated tables. The registry's reference scale is
# 0.1; on 4 vCPUs one cold pass there takes about 60 s, which does not fit a
# run, and per-query time is mostly fixed Spark overhead down to about 0.02
# (hybrid_rrf_topk, warm: 5.9 s at 0.1, 3.7 s at 0.02).
SF = 0.02
SLICES = 3


class Queries:
    def __init__(self, run: Run):
        self.run = run
        self.sf_dir = os.path.join(run.work, "sf")
        self.results: dict[str, list[list[dict]]] = {q: [] for q in QUERIES}
        self.build_s: dict[str, dict[int, float]] = {q: {} for q in QUERIES}
        self.exchanges: dict[str, int] = {}

    def setup(self) -> None:
        import sfgen

        run = self.run
        repeated_build(run, "sfgen.generate", sfgen.slices(self.sf_dir, SF, run.seed, SLICES))
        # start the Python workers so the first UDF query does not pay it
        run.timed_setup("warmup.workers", harness.warm_workers, run.spark, run.width)
        import __spark_entry__ as E

        self.registry = E.queries()

    def cycle(self, i: int) -> None:
        for q in QUERIES:
            self.run.call(q, self._one, q, span=f"operators.{q}")

    def _one(self, q: str) -> int:
        t0 = time.perf_counter()
        df = self.registry[q](self.run.spark, self.sf_dir)
        self.build_s[q][self.run.cycle] = time.perf_counter() - t0
        rows = [r.asDict(recursive=True) for r in df.collect()]
        if q not in self.exchanges:
            # the final adaptive plan; its initial plan is printed after it
            plan = df._jdf.queryExecution().executedPlan().toString()
            plan = plan.split("== Initial Plan ==")[0]
            self.exchanges[q] = sum(
                1 for line in plan.splitlines() if "Exchange" in line and "Reused" not in line
            )
        self.results[q].append(rows)
        return len(rows)

    def finish(self) -> None:
        import duckdb

        import __spark_entry__ as E
        from nessie_spark.operators.similarity import N_QUERIES, TOP_K
        from tools.check_oracle import canon

        import sfgen

        oracles = E.oracle_sql()
        con = duckdb.connect()
        try:
            for t in sfgen.TABLES:
                glob = os.path.join(self.sf_dir, f"{t}.parquet", "*.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{glob}'")
            for q in QUERIES:
                got = [canon(rows) for rows in self.results[q]]
                if not got:
                    continue
                if q in oracles:
                    # pandas, as the registry's gate does: HUGEINT sums
                    # must compare as the gate sees them
                    odf = con.execute(oracles[q]).df()
                    orows = [
                        {k: (v.item() if hasattr(v, "item") else v) for k, v in rec.items()}
                        for rec in odf.to_dict("records")
                    ]
                    want = canon(orows)
                    ok = all(g == want for g in got)
                else:
                    # the ANN queries: one row per (query vector, neighbour)
                    n = len(self.results[q][0])
                    ok = all(g == got[0] for g in got) and n == N_QUERIES * TOP_K
                self.run.check(f"{q}.output", ok)
        finally:
            con.close()
        self.results = {q: [] for q in QUERIES}

    def detail(self) -> dict:
        per_q = {q: statistics.median(self.run.timed(q)) for q in QUERIES if self.run.timed(q)}
        return {
            "queries_geomean_s": geomean(list(per_q.values())),
            "queries_total_s": sum(per_q.values()),
            "query_s": per_q,
            "sf": SF,
        }
