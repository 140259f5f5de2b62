"""Batch workload ``batch_train``: the offline LLM-data CLI chain
(train-quality, cluster, curate) and the connected-components query.

A closed loop with one client: the next call starts when the previous one
has returned. A query call is timed as a caller waits for it: DataFrame
build, then planning, then execution to a ``noop`` sink.
"""

from __future__ import annotations

import contextlib
import hashlib
import io
import os
import shutil
import time

from perfbench import gen
from perfbench.harness import (
    Outcome,
    SparkCounters,
    SparkTotals,
    Tracer,
    clear_memo_caches,
    median,
    peak_rss_mb,
    set_up,
    wait_listener,
)


def oracle_digest(pdf) -> str:
    """Order-insensitive digest of a result under the oracle comparator's
    normalisation (column names sorted, cells canonicalised, rows sorted)."""
    from tests.oracle_compare import normalize

    h = hashlib.sha256(repr(sorted(pdf.columns)).encode())
    for row in normalize(pdf):
        h.update(repr(row).encode())
    return h.hexdigest()


def check_against_oracle(frames: dict, sf_dir: str, out: Outcome) -> None:
    """Each query result in ``frames`` (name -> DataFrame) must hash-match
    its DuckDB oracle on the same generated tables. Runs outside every
    timed region."""
    import duckdb

    from data_pipeline_with_spark_kafka_spark.queries import all_queries
    from data_pipeline_with_spark_kafka_spark.sources.tables import TABLE_NAMES

    registry = all_queries()
    con = duckdb.connect()
    try:
        for t in TABLE_NAMES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        for name, df in frames.items():
            try:
                got = oracle_digest(df.toPandas())
                want = oracle_digest(con.execute(registry[name].oracle).df())
                out.check(f"oracle:{name}", got == want)
            except Exception as exc:  # a crashing query is a failed check, not a crashed run
                out.detail.setdefault("errors", []).append(f"oracle:{name}: {exc!r}"[:300])
                out.check(f"oracle:{name}", False)
    finally:
        con.close()


def time_query(spark, tracer: Tracer, counters: SparkCounters, builder, sf_dir: str, name: str) -> dict:
    """One call of a registered query as a caller waits for it: build
    (span layer ``operators``: this query runs its loop while building),
    plan, execute."""
    counters.mark()
    t0 = time.perf_counter()
    with tracer.span("harness", name):
        with tracer.span("operators", name):
            df = builder(spark, sf_dir)
        t1 = time.perf_counter()
        build_jobs = counters.jobs_since_mark()
        with tracer.span("spark", "plan"):
            df._jdf.queryExecution().executedPlan()
        t2 = time.perf_counter()
        with tracer.span("spark", "exec"):
            df.write.format("noop").mode("overwrite").save()
        t3 = time.perf_counter()
    return {"build_s": t1 - t0, "plan_s": t2 - t1, "exec_s": t3 - t2, "build_jobs": build_jobs, "df": df}


def _layer_metrics(tracer: Tracer, totals: SparkTotals, calls: list[dict], n_passes: int) -> dict:
    """Per-pass layer figures from the traced passes."""
    n = max(1, n_passes)
    self_t = tracer.self_times()
    return {
        "queries.build_s": sum(c["build_s"] for c in calls) / n,
        "queries.build_jobs": sum(c["build_jobs"] for c in calls) / n,
        "spark.plan_s": sum(c["plan_s"] for c in calls) / n,
        "spark.exec_s": sum(c["exec_s"] for c in calls) / n,
        "spark.jobs": totals.jobs / n,
        "spark.tasks": totals.tasks / n,
        "spark.shuffle_write_bytes": totals.shuffle_write_bytes / n,
        "spark.spill_bytes": totals.spill_bytes / n,
        "spark.gc_s": totals.gc_s / n,
        **{f"self.{layer}_s": v / n for layer, v in self_t.items() if layer not in ("pass", "session")},
    }


# The JIT is still speeding passes up after the first: two warm-up passes,
# then timed passes until the window ends (at least two).
WARM_PASSES = 2
MIN_PASSES = 2


def _measure(ctx, spark, out: Outcome, one_pass) -> list[tuple[dict, bool]]:
    """Closed loop over passes until the window ends (at least
    ``MIN_PASSES``). With tracing, passes run untraced, traced, traced,
    untraced (at least those four), so a pass-to-pass speed-up does not
    bias the overhead; the untraced ones give the overhead baseline and the
    traced ones the layer figures. Returns each pass's step times and
    whether it was traced."""
    counters = SparkCounters(spark)
    tracer = ctx.tracer
    plain, traced, calls, steps = [], [], [], []
    totals = SparkTotals()
    deadline = time.perf_counter() + ctx.seconds
    min_passes = 4 if tracer.enabled else MIN_PASSES
    i = 0
    while i < min_passes or time.perf_counter() < deadline:
        trace_this = tracer.enabled and i % 4 in (1, 2)
        tracer_for_pass = tracer if trace_this else Tracer(False)
        # Blocks an operator left cached, or a memo filled by the previous
        # pass, would make the next pass cheaper than the first: every pass
        # starts from empty caches, as the uncached CLI entry points do.
        spark.catalog.clearCache()
        clear_memo_caches()
        if trace_this:
            wait_listener(spark)
            counters.delta()
        t0 = time.perf_counter()
        with tracer_for_pass.span("pass"):
            pass_calls, pass_steps = one_pass(tracer_for_pass, counters)
        dt = time.perf_counter() - t0
        steps.append((pass_steps, trace_this))
        if trace_this:
            wait_listener(spark)
            totals = totals + counters.delta()
            calls.extend(pass_calls)
            traced.append(dt)
        else:
            plain.append(dt)
        i += 1
    out.pass_s = plain
    if tracer.enabled:
        out.layers.update(_layer_metrics(tracer, totals, calls, len(traced)))
        out.layers["trace.overhead_s"] = median(traced) - median(plain)
    out.detail["passes"] = {"untraced": len(plain), "traced": len(traced)}
    out.mark("measure")
    return steps


# --------------------------------------------------------------------------
# batch_train
# --------------------------------------------------------------------------

# Connected components run while this query's DataFrame is built.
CC_QUERY = "llm_dedup_clusters"
TRAIN_STEPS = ("train_quality", "cluster", "curate", CC_QUERY)


def batch_train(ctx, out: Outcome) -> None:
    from data_pipeline_with_spark_kafka_spark import run
    from data_pipeline_with_spark_kafka_spark.queries import all_queries

    registry = all_queries()
    sf = ctx.size("train_sf")
    iters, k_iters = ctx.size("train_iters"), ctx.size("cluster_iters")
    passes = [0]
    artifacts: list[tuple[bytes, bytes]] = []
    step_jobs: list[tuple[int, ...]] = []

    def one_pass(spark, sf_dir, tracer, counters):
        """train-quality -> cluster -> curate --model -> the CC query.
        Each pass writes under a fresh directory, so no step finds an
        earlier pass's output."""
        pass_dir = os.path.join(ctx.work, f"train-pass-{passes[0]}")
        passes[0] += 1
        os.makedirs(pass_dir)
        model, cents = os.path.join(pass_dir, "model.json"), os.path.join(pass_dir, "centroids.json")
        docs, emb = os.path.join(sf_dir, "documents.parquet"), os.path.join(sf_dir, "embeddings.parquet")
        cli = {
            "train_quality": ["train-quality", "--input", docs, "--model-out", model, "--iters", str(iters)],
            "cluster": ["cluster", "--input", emb, "--centroids-out", cents, "--iters", str(k_iters)],
            "curate": ["curate", "--input", docs, "--target", os.path.join(pass_dir, "curated"),
                       "--model", model],
        }
        calls, jobs, times = [], [], {}
        for step in TRAIN_STEPS:
            counters.mark()
            t0 = time.perf_counter()
            try:
                if step in cli:
                    # The CLI prints a summary line; keep it off our stdout.
                    with tracer.span("operators", step), contextlib.redirect_stdout(io.StringIO()):
                        run.main(cli[step], spark=spark)
                else:
                    calls.append(time_query(spark, tracer, counters, registry[step].builder, sf_dir, step))
                ok = True
            except Exception as exc:
                out.detail.setdefault("errors", []).append(f"{step}: {exc!r}"[:300])
                ok = False
            out.op(ok)
            times[step] = time.perf_counter() - t0
            jobs.append(counters.jobs_since_mark())
        step_jobs.append(tuple(jobs))
        with open(model, "rb") as f1, open(cents, "rb") as f2:
            artifacts.append((f1.read(), f2.read()))
        shutil.rmtree(pass_dir, ignore_errors=True)
        return calls, times

    def prepare(spark, r):
        from data_pipeline_with_spark_kafka_spark.sources.tables import load_table

        sf_dir = os.path.join(ctx.work, f"tables-{r}")
        out.detail["rows"] = gen.write_tables(sf_dir, sf, ctx.seed)
        load_table(spark, sf_dir, "documents")  # the session's table memo
        return sf_dir

    warm_calls: list[dict] = []

    def warm(spark, sf_dir):
        for i in range(WARM_PASSES):
            if i:
                spark.catalog.clearCache()
                clear_memo_caches()
            calls, _ = one_pass(spark, sf_dir, Tracer(False), SparkCounters(spark))
        warm_calls.extend(calls)

    spark, sf_dir = set_up(ctx, out, prepare, warm)
    # The warm-up passes are set-up: their ops, job counts and artifacts do
    # not count. Every timed pass must repeat the first timed pass's.
    out.attempted = out.failed = 0
    artifacts.clear()
    step_jobs.clear()
    # The last warm-up result is checked now, outside the timed region: its
    # components are checkpointed, so the check reads them back instead of
    # running the loop again.
    check_against_oracle({CC_QUERY: warm_calls.pop()["df"]}, sf_dir, out)
    steps = _measure(ctx, spark, out, lambda tracer, counters: one_pass(spark, sf_dir, tracer, counters))
    # A pass is the sum of each step's median over the untraced passes.
    plain = [s for s, traced in steps if not traced]
    out.e2e["pass_s"] = sum(median([p[step] for p in plain]) for step in TRAIN_STEPS)
    out.e2e["latency_p50_s"] = median([p[CC_QUERY] for p in plain])
    if ctx.tracer.enabled:
        spans = [s for s in ctx.tracer.spans if s.layer == "operators"]
        n = max(1, out.detail["passes"]["traced"])
        for step in TRAIN_STEPS[:3]:
            out.layers[f"operators.{step}_s"] = sum(s.duration for s in spans if s.name == step) / n
        out.layers["operators.cc_s"] = sum(s.duration for s in spans if s.name == CC_QUERY) / n
        out.layers["operators.cc_jobs"] = step_jobs[-1][TRAIN_STEPS.index(CC_QUERY)]
    out.detail["step_jobs"] = [dict(zip(TRAIN_STEPS, j)) for j in step_jobs]
    out.detail["step_s"] = {step: [round(p[step], 3) for p in plain] for step in TRAIN_STEPS}
    # The CLI steps' job counts must repeat exactly. The CC query's may
    # not: adaptive execution submits independent query stages at once and
    # drops a stage it re-plans away before or after submitting its job,
    # so identical passes launch 46 to 49 jobs. It is reported, not checked.
    cli_steps = TRAIN_STEPS.index(CC_QUERY)
    out.check("cli_step_jobs_repeat", len({j[:cli_steps] for j in step_jobs}) == 1)
    out.check("model_and_centroids_repeat", len(set(artifacts)) == 1)
    out.detail["sf"] = sf
    out.detail["peak_rss_mb"] = peak_rss_mb(spark)
    spark.stop()
