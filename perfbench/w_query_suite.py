"""``query_suite``: the headline registry queries over generated parquet
tables.  Each query is built (``REGISTRY[q].fn(spark, sf_dir)``) and then
run through the noop sink; one operation is one pass over the roster."""

from __future__ import annotations

import hashlib
import os
import sys
import time

from measure import Mark, between, median
from tracing import group_jobs, set_op

TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
if TOOLS not in sys.path:
    sys.path.insert(0, TOOLS)
import oracle_check  # noqa: E402

SF = 0.01

# bench.py's HEADLINE roster, in its order, split into the three families
# whose build and execute times the trace reports separately.
FAMILY = {
    "q01_pricing_summary": "relational",
    "q03_shipping_priority": "relational",
    "q05_local_supplier_volume": "relational",
    "q06_forecast_revenue": "relational",
    "q10_returned_revenue": "relational",
    "q_conditional_agg_events": "relational",
    "q_latest_wins_events": "relational",
    "q_topk_per_group": "relational",
    "q_asof_join": "relational",
    "q_range_join": "relational",
    "q_json_extract_events": "text",
    "q_envelope_events": "text",
    "q_dedup_md5_documents": "similarity",
    "q_text_quality": "text",
    "q_minhash_lsh_pairs": "similarity",
    "q_simhash_pairs": "similarity",
    "q_lsh_jaccard_verified": "similarity",
    "q_ann_cosine_topk": "similarity",
    "q_embedding_near_dup": "similarity",
    "q07_nation_volume": "relational",
    "q13_order_count_dist": "relational",
    "q18_large_orders": "relational",
    "q_window_rank_family": "relational",
    "q_sessionize_events": "relational",
    "q_binned_range_join": "relational",
    "q_dedup_clusters": "similarity",
    "q_text_repetition": "text",
    "q_hash_split": "text",
    "q_curation_pipeline": "text",
}
# The timed roster: 4 of the 29, in bench order, every family kept.  A
# cold pass over all 29 takes ~35 s at sf0.01 on a 4-core host, which with
# the timed passes and the checks overruns the per-run time budget.  q05
# makes the most parquet reads of the relational queries (six), minhash
# runs the eager LSH build stages, and the text pair covers JSON
# extraction and the curation pipeline.  q_dedup_clusters is left out:
# its connected-components loop runs a seed-dependent number of jobs, so
# its time moves with the seed rather than with the program.
ROSTER = (
    "q05_local_supplier_volume",
    "q_json_extract_events",
    "q_minhash_lsh_pairs",
    "q_curation_pipeline",
)
FAMILIES = ("relational", "similarity", "text")
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def canon(v):
    """One cell as a string.  Scalars render as the repository's oracle
    gate renders them (``tools/oracle_check.canon``: no cross-type numeric
    forgiveness); array, map and struct cells, which that gate refuses,
    render element by element."""
    import numpy as np

    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(x)}" for k, x in sorted(v.items())) + "}"
    if hasattr(v, "asDict"):  # a struct cell
        return canon(v.asDict())
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return oracle_check.canon(v)[-1]


def digest(frame):
    """(row count, order-insensitive digest) of a pandas frame, columns
    taken in name order."""
    cols = sorted(frame.columns)
    rows = sorted(
        "\x1f".join(canon(v) for v in row)
        for row in frame[cols].itertuples(index=False, name=None)
    )
    h = hashlib.sha256()
    for r in rows:
        h.update(r.encode())
        h.update(b"\x1e")
    return len(rows), h.hexdigest()


class QuerySuite:
    # the cold pass takes five to six times a warm one; the next passes
    # keep falling slowly (a third warm-up pass did not steady the runs,
    # see README); OP_S is one warm pass with its correctness check
    WARMUP = 2
    MIN_OPS = 2
    OP_S = 3.6

    def __init__(self, spark, work, seed, spans, sf=None, roster=None):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.spans = spans
        self.sf = sf or SF
        self.roster = roster or ROSTER
        self.sf_dir = os.path.join(work, f"sf{self.sf}")
        self.passes = []  # (label, phase, {query: (build_s, exec_s)})
        self.results = {}  # query -> [(rows, digest) per pass]
        self.problems = []

    def prepare(self, traced):
        import pyarrow.parquet as pq

        import datagen

        datagen.query_suite_data(self.sf_dir, self.sf, self.seed)
        self.source_rows = sum(
            pq.ParquetFile(os.path.join(self.sf_dir, f"{t}.parquet")).metadata.num_rows
            for t in TABLES
        )

    def op(self, index, phase):
        """One pass; returns (latency, cycle, rows), the two times as
        (wall, steal-excluded) seconds.  Each query's result is collected
        for the correctness check after its timed region; the check's
        time is kept out of the pass."""
        from sample_dms_s3_kinesis_spark.plans.registry import REGISTRY

        label = f"{phase}-{index}"
        per_query = {}
        timed = []
        for q in self.roster:
            set_op(self.spark, f"{label}:{q}:build")
            start = Mark()
            df = REGISTRY[q].fn(self.spark, self.sf_dir)
            built = time.perf_counter()
            set_op(self.spark, f"{label}:{q}:exec")
            df.write.format("noop").mode("overwrite").save()
            end = Mark()
            per_query[q] = (built - start.t, end.t - built)
            timed.append(between(start, end))
            set_op(self.spark, f"{label}:{q}:check")
            c0 = time.perf_counter()
            self.results.setdefault(q, []).append(digest(df.toPandas()))
            self.check_s += time.perf_counter() - c0
        set_op(self.spark, None)
        self.passes.append((label, phase, per_query))
        elapsed = tuple(map(sum, zip(*timed)))
        return elapsed, elapsed, self.source_rows

    def finish(self, traced):
        """Compare the first pass against each query's oracle SQL in
        duckdb over the same files."""
        import duckdb

        from sample_dms_s3_kinesis_spark.plans.registry import REGISTRY

        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'"
                )
            self.oracle_checked = 0
            for q in self.roster:
                sql = REGISTRY[q].oracle
                if not sql:
                    continue
                want = digest(con.execute(sql).df())
                self.oracle_checked += 1
                if self.results[q][0] != want:
                    self.problems.append(
                        f"{q}: spark {self.results[q][0][0]} rows / oracle "
                        f"{want[0]} rows, digests differ"
                    )
        finally:
            con.close()

    def check(self):
        """(attempted, failed, problems): a pass fails when any query's
        row count or digest differs from its first pass, or the first
        pass from the oracle."""
        problems = list(self.problems)
        failed_passes = set()
        if problems:
            failed_passes.add(0)
        for q, seen in self.results.items():
            for i, r in enumerate(seen[1:], start=1):
                if r != seen[0]:
                    failed_passes.add(i)
                    problems.append(f"{q}: pass {i} gives {r[0]} rows / other digest")
        return len(self.passes), len(failed_passes), problems

    def layers(self, jobs):
        jobs_by_op = group_jobs(jobs, lambda j: j.op)
        out = {}
        timed = [(label, pq) for label, phase, pq in self.passes if phase == "traced"]
        for fam in FAMILIES:
            qs = [q for q in self.roster if FAMILY[q] == fam]
            rows = []
            for label, per_query in timed:
                build = [j for q in qs for j in jobs_by_op.get(f"{label}:{q}:build", [])]
                execj = [j for q in qs for j in jobs_by_op.get(f"{label}:{q}:exec", [])]
                both = build + execj
                rows.append(
                    {
                        "build_s": sum(per_query[q][0] for q in qs),
                        "build_jobs": len(build),
                        "exec_s": sum(per_query[q][1] for q in qs),
                        "jobs": len(execj),
                        "executor_cpu_s": sum(j.cpu_s for j in both),
                        "jvm_gc_s": sum(j.gc_s for j in both),
                        "shuffle_bytes": sum(j.shuffle_bytes for j in both),
                    }
                )
            for k in rows[0]:
                out[f"plans.registry.{fam}.{k}"] = median([r[k] for r in rows])
        return out

    def trace_detail(self, jobs):
        """Per-query figures of every traced pass, for the trace file."""
        jobs_by_op = group_jobs(jobs, lambda j: j.op)
        detail = {}
        for label, phase, per_query in self.passes:
            if phase != "traced":
                continue
            for q, (b, e) in per_query.items():
                build = jobs_by_op.get(f"{label}:{q}:build", [])
                execj = jobs_by_op.get(f"{label}:{q}:exec", [])
                detail.setdefault(q, []).append(
                    {
                        "family": FAMILY[q],
                        "build_s": b,
                        "exec_s": e,
                        "build_jobs": len(build),
                        "jobs": len(execj),
                        "executor_cpu_s": sum(j.cpu_s for j in build + execj),
                        "jvm_gc_s": sum(j.gc_s for j in build + execj),
                        "shuffle_bytes": sum(j.shuffle_bytes for j in build + execj),
                        "rows": self.results[q][0][0],
                    }
                )
        return detail
