"""The batch workloads (`sql`, `kernels`): one client runs the
workload's registry queries in a closed loop, draining each to the
`noop` sink as bench.py does.

The queries read `tables/`, a copy of the engine's sf0.01 fixture
tables (seed 42), so the seed does not change their inputs. Set-up
starts the JVM and the session. The oracle pass runs every query once
and compares its rows with the query's DuckDB oracle, more passes warm
up (`warmup_passes` counts the oracle pass), and the timed passes then
run for the requested seconds, in whole passes over the mix.
"""

from __future__ import annotations

import os
import time

import layers
from stats import geomean, median
from workload import (cold_start, dir_mb, jit_cpu_s, probe_scale, reset_rss_peak, rss_peak_mb,
                      session_cpu_s)

TABLES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "tables")


def _check_oracles(bench, spark, names, sf_dir) -> None:
    from tests.oracle_check import compare

    for name in names:
        bench.attempted += 1
        try:
            compare(spark, name, sf_dir)
        except AssertionError as e:
            bench.fail(f"{name}: {str(e)[:300]}")
        except Exception as e:  # a query that raises is a failed operation
            bench.fail(f"{name}: {type(e).__name__}: {str(e)[:300]}")


def _warm(bench, spark, names, sf_dir, n: int) -> None:
    for _ in range(n):
        _passes(bench, spark, names, sf_dir, 0, min_passes=1)


def _passes(bench, spark, names, sf_dir, seconds, min_passes=2) -> dict:
    """Whole passes over `names`, at least `min_passes` of them, starting
    another while at least half of it fits in `seconds`; per query the
    latency and the CPU seconds of each run, the latter scaled by the
    speed probe over its pass (`probe_scale`), and the time, CPU and JIT
    CPU of each pass. Two passes at least, so that a slow host does not
    leave a run with a single pass, the least warmed one."""
    from core_spark.plans.registry import REGISTRY

    sc = spark.sparkContext
    rec = bench.rec
    samples: dict[str, list[float]] = {n: [] for n in names}
    cpu: dict[str, list[float]] = {n: [] for n in names}
    passes: list[float] = []
    pass_cpu: list[float] = []
    pass_jit: list[float] = []
    persisted_left = 0
    t_start = time.perf_counter()
    while len(passes) < min_passes or time.perf_counter() - t_start + passes[-1] / 2 < seconds:
        total = 0.0
        c_pass, j_pass, e_pass = session_cpu_s(), jit_cpu_s(), time.time()
        pass_queries: dict[str, float] = {}
        for name in names:
            # Same hygiene as bench.py: no query inherits cached blocks.
            spark.catalog.clearCache()
            sc._jvm.System.gc()
            if rec is not None:
                sc.setJobGroup(f"perfbench:{name}", name)
            bench.attempted += 1
            c0 = session_cpu_s()
            t0 = time.perf_counter()
            try:
                if rec is None:
                    REGISTRY[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                else:
                    with rec.span("query"):
                        with rec.span("plans.build"):
                            df = REGISTRY[name].fn(spark, sf_dir)
                        with rec.span("plans.exec"):
                            df.write.format("noop").mode("overwrite").save()
            except Exception as e:
                bench.fail(f"{name}: {type(e).__name__}: {str(e)[:300]}")
                continue
            dt = time.perf_counter() - t0
            pass_queries[name] = session_cpu_s() - c0
            samples[name].append(dt)
            total += dt
            persisted_left = max(persisted_left, sc._jsc.getPersistentRDDs().size())
        passes.append(total)
        pass_cpu.append(session_cpu_s() - c_pass)
        pass_jit.append(jit_cpu_s() - j_pass)
        scale = probe_scale(e_pass, time.time())
        for name, v in pass_queries.items():
            cpu[name].append(v * scale)
    spark.catalog.clearCache()
    # A query that failed every time has no latency; the failure is counted.
    medians = {n: median(v) for n, v in samples.items() if v}
    cpu_medians = {n: median(v) for n, v in cpu.items() if v}
    return {
        "medians": medians,
        "cpu_medians": cpu_medians,
        "cpu_s.per_op": geomean(list(cpu_medians.values())),
        "passes": passes,
        "pass_cpu": pass_cpu,
        "pass_jit": pass_jit,
        "latency_s.geomean": geomean(list(medians.values())),
        "persisted_rdds_left": persisted_left,
    }


def run(bench) -> dict:
    names = bench.wl["queries"]
    sf_dir = TABLES

    def imports():
        import core_spark.plans.registry  # noqa: F401

    setup, spark = cold_start(imports, lambda: (bench.start_session(), 0.0, 0.0))
    bench.phase("setup")
    _check_oracles(bench, spark, names, sf_dir)
    bench.phase("oracle")
    # `warmup_passes` counts the oracle pass.
    _warm(bench, spark, names, sf_dir, bench.wl["warmup_passes"] - 1)
    bench.phase("warmup")

    seconds = bench.args.seconds
    detail = {"start_s": setup["start_s"], "setup_wall_s": setup["setup_wall_s"],
              "queries": names}
    if not bench.args.trace:
        res = _passes(bench, spark, names, sf_dir, seconds)
        e2e = {
            "cpu_s.per_op": res["cpu_s.per_op"],
            "rss_peak_mb": rss_peak_mb(spark),
            "setup_s": setup["setup_s"],
        }
        bench.stop_session(spark)
        detail.update(_detail(res))
        return {"e2e": e2e, "layers": {}, "detail": detail}

    # Traced run: half the time untraced, then a traced cold start for
    # the other half, warmed up as the untraced one was; the difference
    # is the tracing overhead.
    plain = _passes(bench, spark, names, sf_dir, seconds / 2)
    plain["rss_peak_mb"] = rss_peak_mb(spark)
    bench.stop_session(spark)
    reset_rss_peak()
    bench.enable_tracing()
    traced_setup, spark = cold_start(lambda: None, lambda: (bench.start_session(), 0.0, 0.0))
    _warm(bench, spark, names, sf_dir, bench.wl["warmup_passes"])
    w0 = time.time()
    traced = _passes(bench, spark, names, sf_dir, seconds / 2)
    w1 = time.time()
    traced["rss_peak_mb"] = rss_peak_mb(spark)
    bench.stop_session(spark)
    out = layers.defaults(bench.cfg)
    out.update(layers.from_trace(bench, w0, w1, per=len(traced["passes"])))
    out.update({f"query.{n}.s": v for n, v in plain["medians"].items()})
    out["latency_s.geomean"] = plain["latency_s.geomean"]
    out["jvm.jit_cpu_s"] = median(traced["pass_jit"])
    out["plans.persisted_rdds_left"] = traced["persisted_rdds_left"]
    out["plans.tmp_left_mb"] = dir_mb(os.environ["TMPDIR"])
    out.update(layers.overhead(plain, traced, setup, traced_setup))
    detail.update(_detail(traced))
    return {"e2e": {}, "layers": out, "detail": detail}


def _detail(res: dict) -> dict:
    return {
        "query_s.geomean": res["latency_s.geomean"],
        "query_s.median": res["medians"],
        "query_cpu_s.median": res["cpu_medians"],
        "pass_s.p50": median(res["passes"]),
        "pass_s.all": res["passes"],
        "pass_cpu_s.all": res["pass_cpu"],
        "pass_jit_cpu_s.all": res["pass_jit"],
    }
