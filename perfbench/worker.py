"""One benchmark run of one workload, in the process that owns the
SparkSession.  ``run.py`` starts it in its own process group and a
run-scoped scratch directory; see ``run.py`` for the command line.

Prints human-readable metric lines on stdout and writes the result
object to ``<scratch>/result.json``.
"""

from __future__ import annotations

import argparse
import datetime
import hashlib
import json
import math
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, REPO)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
from spans import Tracer, read_event_log  # noqa: E402

CFG = json.load(open(os.path.join(HERE, "workloads.json")))


def family(name: str) -> str:
    """Registry query family: the name's first word (graph_ppr -> graph)."""
    return name.split("_", 1)[0]


def med(xs):
    return statistics.median(xs) if xs else float("nan")


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


# -- session, set-up, canary, memory ----------------------------------------


def start_session(scratch: str, event_dir: str | None):
    """The engine's session on local[nproc] with nproc shuffle partitions,
    a fixed driver heap and every scratch path inside ``scratch``."""
    from atd_data_lake_spark.session import get_spark

    cpus = os.cpu_count() or 4
    conf = {
        "spark.driver.memory": CFG["driver_memory"],
        "spark.local.dir": os.path.join(scratch, "local"),
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={scratch}/tmp "
        f"-Dderby.system.home={scratch} -Xms{CFG['driver_memory']}",
    }
    if event_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir,
            "spark.eventLog.compress": "false",
        })
    return get_spark(
        app_name="perfbench", master=f"local[{cpus}]", shuffle_partitions=cpus,
        extra_conf=conf,
    )


def canary(spark) -> float:
    """A fixed small shuffle query: the host-window signal."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    rows = (
        spark.range(0, 400_000, numPartitions=4)
        .groupBy((F.col("id") % 97).alias("k"))
        .agg(F.sum("id").alias("s"))
        .collect()
    )
    dt = time.perf_counter() - t0
    if sum(r.s for r in rows) != 400_000 * 399_999 // 2:
        raise RuntimeError("canary query returned a wrong sum")
    return dt


def peak_rss_mb() -> float:
    """Sum of the peak resident sizes (VmHWM) of this process and every
    process below it: the JVM and the Python workers."""
    parent: dict[int, int] = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    parent[int(pid)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
    tree, grew = {os.getpid()}, True
    while grew:
        add = {p for p, pp in parent.items() if pp in tree and p not in tree}
        tree |= add
        grew = bool(add)
    kb = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024.0


# -- output checks ----------------------------------------------------------


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    return v


def digest(cols, rows) -> str:
    """Order-insensitive, null-safe digest of a result: columns sorted by
    name, values normalized, rows sorted with None first."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    normed = sorted(
        (tuple(_norm(r[i]) for i in order) for r in rows),
        key=lambda t: tuple((x is not None, str(type(x)), x) for x in t),
    )
    return hashlib.sha256(repr((sorted(cols), normed)).encode()).hexdigest()


def oracle_digests(sf_dir: str, names) -> dict[str, str | None]:
    """DuckDB oracle digest per query; None for rows-only queries."""
    import duckdb

    from atd_data_lake_spark.queries import ORACLES

    con = duckdb.connect()
    for t in datagen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    out = {}
    for n in names:
        if n not in ORACLES:
            out[n] = None
            continue
        res = con.execute(ORACLES[n])
        out[n] = digest([d[0] for d in res.description], res.fetchall())
    con.close()
    return out


# -- workloads ----------------------------------------------------------------


def lake_days(cfg: dict) -> list:
    """The days the lake schedule reaches: the backfill days, then one
    day per night, with twice as many nights in a traced run.  The
    generated events span all ``cfg["days"]``; raw files are cut for
    these days only."""
    import lake

    n = lake.BACKFILL_DAYS + 2 * cfg["nights"]
    if n > cfg["days"]:
        raise SystemExit(f"the lake schedule needs {n} days, the inputs have {cfg['days']}")
    return lake.days_for(n)


def setup_inputs(workload: str, seed: int, scratch: str, k: int) -> dict:
    cfg = CFG[workload]
    sf_dir = os.path.join(scratch, f"input-{k}")
    if workload == "lake_nightly":
        import lake

        datagen.write_tables(sf_dir, seed, cfg["sf"], cfg["days"], only=("events", "nation"))
        raw_dir = os.path.join(scratch, f"raw-{k}")
        raw = lake.make_raw(sf_dir, raw_dir, lake_days(cfg), seed)
        return {"sf_dir": sf_dir, "raw": raw}
    datagen.write_tables(sf_dir, seed, cfg["sf"])
    return {"sf_dir": sf_dir}


def run_queries(spark, workload, inputs, seconds, tracer) -> dict:
    from atd_data_lake_spark.queries import QUERIES

    names = CFG[workload]["queries"]
    sf_dir = inputs["sf_dir"]
    sc = spark.sparkContext
    reps = {n: [] for n in names}
    traced_pass = []  # per pass: (traced?, seconds)
    digests = {n: set() for n in names}
    leaked = 0
    t_start = time.perf_counter()
    passes = 0
    # the first pass is cold; a traced run alternates traced and
    # untraced passes after it
    while passes < 3 or time.perf_counter() - t_start < seconds:
        tracer.enabled = tracer.requested and passes % 2 == 1
        t_pass = time.perf_counter()
        for n in names:
            t0 = time.perf_counter()
            with tracer.span(f"q.{n}", family=family(n), query=n):
                df = QUERIES[n](spark, sf_dir)
                rows = df.collect()
            reps[n].append(time.perf_counter() - t0)
            digests[n].add(digest(df.columns, [tuple(r) for r in rows]))
            spark.catalog.clearCache()
            leaked += sc._jsc.getPersistentRDDs().size()
        traced_pass.append((tracer.enabled, time.perf_counter() - t_pass))
        passes += 1
    tracer.enabled = False

    oracle = oracle_digests(sf_dir, names)
    failed = []
    for n in names:
        if len(digests[n]) != 1 or (oracle[n] is not None and oracle[n] not in digests[n]):
            failed.append(n)
    medians = {n: med(reps[n][1:]) for n in names}  # the first pass is cold
    return {
        "attempted": sum(len(v) for v in reps.values()),
        "failed": sum(len(reps[n]) for n in failed),
        "failed_ops": failed,
        "reps": reps,
        "cycle_s": sum(medians.values()),
        "geomean_s": geomean(list(medians.values())),
        "leaked_persists": leaked,
        "cycles": traced_pass[1:],  # the first pass is cold
        "named": {
            "query_total_s": (sum(medians.values()), "s"),
            "query_geomean_s": (geomean(list(medians.values())), "s"),
            "passes": (passes, "count"),
        },
    }


def run_lake(spark, inputs, tracer, scratch) -> dict:
    import lake
    from atd_data_lake_spark import catalog as cat_mod
    from atd_data_lake_spark import runner
    from atd_data_lake_spark.io import txlog

    cfg = CFG["lake_nightly"]
    days = lake_days(cfg)
    raw = inputs["raw"]
    root = os.path.join(scratch, "lake")
    lk = lake.Lake(spark, root, inputs["sf_dir"], raw, tracer)
    # a fixed schedule: backfill, cfg["nights"] nights, no-op re-run; a
    # traced run adds as many traced nights, alternating with untraced ones
    n_nights = cfg["nights"] * (2 if tracer.requested else 1)
    if tracer.requested:
        tracer.shim(runner, "incremental_plan", "operators.incremental.plan")
        tracer.shim(runner, "write_layer", "io.writer.write_layer")
        tracer.shim(cat_mod, "upsert", "catalog.upsert")
        tracer.count(txlog, "commit", "io.txlog.commits", txlog.CommitConflict)

    def slices_for(night: int):
        return sorted((s, d) for (s, d), a in raw["arrival"].items() if a == night)

    def day_end(night: int):
        return days[night] + datetime.timedelta(days=1)

    try:
        t_start = time.perf_counter()
        b = lake.BACKFILL_DAYS - 1
        t0 = time.perf_counter()
        lk.night(slices_for(b), day_end(b))
        backfill_s = time.perf_counter() - t0
        nights = []
        for night in range(b + 1, b + 1 + n_nights):
            tracer.enabled = tracer.requested and len(nights) % 2 == 1
            calls_before = len(lk.calls)
            t0 = time.perf_counter()
            with tracer.span("lake.night"):
                lk.night(slices_for(night), day_end(night))
            nights.append((tracer.enabled, time.perf_counter() - t0, calls_before))
            tracer.enabled = False
        calls_after_nights = len(lk.calls)
        planned_before, considered_before = lk.planned, lk.considered
        t0 = time.perf_counter()
        lk.night([], day_end(night))
        noop_s = time.perf_counter() - t0
        noop_planned = lk.planned - planned_before
        noop_considered = lk.considered - considered_before
        timed_s = time.perf_counter() - t_start
    finally:
        tracer.close()

    checks = lk.check_public(inputs["sf_dir"])
    failed_ops = [f"public_{s}" for s, ok in checks.items() if not ok]
    if noop_planned:
        failed_ops.append("noop_rerun")
    # seconds per engine call over the nights, and per call kind over the
    # whole schedule (backfill, nights, no-op)
    per_call: dict[str, list[float]] = {}
    for name, dt in lk.calls[nights[0][2]:calls_after_nights]:
        per_call.setdefault(name, []).append(dt)
    per_kind: dict[str, float] = {}
    for name, dt in lk.calls:
        per_kind[name] = per_kind.get(name, 0.0) + dt
    night_s = [dt for _, dt, _ in nights]
    done = [(s, d) for s, days_done in lk.processed.items() for d in days_done]
    records = sum(raw["records"][d] for _, d in done)
    raw_bytes = sum(os.path.getsize(raw["files"][slice_]) for slice_ in done)
    lake_bytes = lake.tree_bytes(root)
    return {
        "attempted": len(lk.calls) + len(checks),
        "failed": len(failed_ops),
        "failed_ops": failed_ops,
        "reps": {"night": night_s, "backfill": [backfill_s], "noop": [noop_s],
                 **{f"call.{k}": v for k, v in per_call.items()}},
        "cycle_s": timed_s,
        "geomean_s": geomean(list(per_kind.values())),
        "cycles": [(tr, dt) for tr, dt, _ in nights],
        "leaked_persists": spark.sparkContext._jsc.getPersistentRDDs().size(),
        "lake": {"root": root, "noop_considered": noop_considered,
                 "noop_planned": noop_planned, "lk": lk},
        "named": {
            "lake_backfill_s": (backfill_s, "s"),
            "lake_night_p50_s": (med(night_s), "s"),
            "lake_nights": (len(nights), "count"),
            "lake_noop_rerun_s": (noop_s, "s"),
            "lake_rows_per_s": (records / timed_s, "1/s"),
            "lake_schedule_s": (timed_s, "s"),
            "lake_space_amp": (lake_bytes / raw_bytes, "ratio"),
        },
    }


def lake_layer_metrics(res: dict, tracer: Tracer, groups: dict) -> dict:
    """The lake's own per-layer numbers (traced run)."""
    import lake
    from atd_data_lake_spark.io import txlog

    info = res["lake"]
    root = info["root"]
    spans = tracer.spans
    per_name: dict[str, list[float]] = {}
    for s in spans:
        per_name.setdefault(s["name"], []).append(s["end"] - s["start"])
    traced_nights = max(1, sum(1 for tr, _ in res["cycles"] if tr))

    def per_night(name):
        return sum(per_name.get(name, [])) / traced_nights

    jobs = sum(g.get("jobs", 0) for k, g in groups.items() if k.startswith("span-"))
    layer_files = layer_bytes = 0
    for layer in ("standardized", "ready", "public"):
        for d, _, names in os.walk(os.path.join(root, layer)):
            for n in names:
                if n.endswith(".parquet"):
                    layer_files += 1
                    layer_bytes += os.path.getsize(os.path.join(d, n))
    log_bytes = 0
    for d, _, names in os.walk(root):
        if os.path.basename(d) == "_txlog":
            log_bytes += sum(os.path.getsize(os.path.join(d, n)) for n in names)
    removed = added = new = 0
    for s in lake.SOURCES:
        table = os.path.join(root, "published", s)
        for h in txlog.history(table):
            v = txlog._read_commit(table, h["version"])
            added += sum(os.path.getsize(os.path.join(table, p)) for p in v["adds"])
            removed += sum(os.path.getsize(os.path.join(table, p)) for p in v["removes"])
        new += lake.tree_bytes(os.path.join(root, "public", f"data_source={s}"))
    lk = info["lk"]
    return {
        "runner.run_stage_s": (per_night("runner.run_stage"), "s"),
        "spark.jobs_per_night": (jobs / traced_nights, "count"),
        "operators.incremental.plan_s": (per_night("operators.incremental.plan"), "s"),
        "operators.incremental.planned_frac": (
            info["noop_planned"] / max(1, info["noop_considered"]), "ratio"),
        "io.writer.write_layer_s": (per_night("io.writer.write_layer"), "s"),
        "io.writer.files": (layer_files, "count"),
        "io.writer.bytes_per_row": (layer_bytes / max(1, lake_rows(lk)), "B"),
        "catalog.upsert_table_s": (per_night("catalog.upsert_table"), "s"),
        "catalog.rows": (txlog.read_table(lk.spark, lk.catalog_path).count(), "count"),
        "io.txlog.commits": (tracer.counts["io.txlog.commits"], "count"),
        "io.txlog.conflicts_retried": (tracer.counts["io.txlog.commits.errors"], "count"),
        "io.txlog.log_bytes": (log_bytes, "B"),
        "io.publish.merge_public_txlog_s": (per_night("io.publish.merge_public_txlog"), "s"),
        "io.publish.rewrite_amp": ((removed + added) / max(1, new), "ratio"),
        "pipelines.perfmet.job_row_s": (per_night("pipelines.perfmet.job_row"), "s"),
    }


def lake_rows(lk) -> int:
    import lake

    return sum(
        lk.spark.read.parquet(os.path.join(lk.root, layer, f"data_source={s}")).count()
        for layer in ("standardized", "ready", "public")
        for s in lake.SOURCES
    )


def query_layer_metrics(res: dict, tracer: Tracer, groups: dict) -> dict:
    """Per-family and per-query numbers of a query workload (traced run)."""
    fam: dict[str, dict[str, float]] = {}
    traced_passes = max(1, sum(1 for tr, _ in res["cycles"] if tr))
    py_rows = py_bytes = 0.0
    for s in tracer.spans:
        f = fam.setdefault(s["family"], {"s": 0.0, "jobs": 0.0, "shuffle": 0.0, "spill": 0.0})
        g = groups.get(f"span-{s['id']}", {})
        f["s"] += (s["end"] - s["start"]) / traced_passes
        f["jobs"] += g.get("jobs", 0) / traced_passes
        f["shuffle"] += g.get("shuffle_write_bytes", 0) / traced_passes
        f["spill"] += g.get("spill_bytes", 0) / traced_passes
        py_rows += g.get("python_rows", 0) / traced_passes
        py_bytes += g.get("python_bytes", 0) / traced_passes
    out = {}
    for name, f in sorted(fam.items()):
        out[f"query.{name}_s"] = (f["s"], "s")
        out[f"query.{name}.jobs"] = (f["jobs"], "count")
        out[f"query.{name}.shuffle_write_bytes"] = (f["shuffle"], "B")
        out[f"query.{name}.spill_bytes"] = (f["spill"], "B")
    out["query.python_rows"] = (py_rows, "count")
    out["query.python_bytes"] = (py_bytes, "B")
    out["query.leaked_persists"] = (res["leaked_persists"], "count")
    for n, reps in res["reps"].items():
        out[f"q.{n}_s"] = (med(reps[1:]), "s")
    return out


T0 = time.perf_counter()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scratch", required=True)
    args = ap.parse_args()
    if args.workload not in ("lake_nightly", "registry_queries"):
        raise SystemExit(f"unknown workload {args.workload!r}")
    scratch = args.scratch
    event_dir = os.path.join(scratch, "events") if args.trace else None
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)

    setups, sessions, spark = [], [], None
    try:
        for k in range(CFG["setups_per_run"]):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = start_session(scratch, event_dir)
            t1 = time.perf_counter()
            inputs = setup_inputs(args.workload, args.seed, scratch, k)
            canary(spark)  # warm-up
            setups.append(time.perf_counter() - t0)
            sessions.append(t1 - t0)
        canary_start = [canary(spark) for _ in range(CFG["canary_reps"])]
        t_setup = time.perf_counter()
        tracer = Tracer(spark, bool(args.trace), run_id=f"{args.workload}-{args.seed}")
        if args.workload == "lake_nightly":
            res = run_lake(spark, inputs, tracer, scratch)
        else:
            res = run_queries(spark, args.workload, inputs, args.seconds, tracer)
        t_timed = time.perf_counter()
        canary_end = [canary(spark) for _ in range(CFG["canary_reps"])]
        rss = peak_rss_mb()
        layer = {}
        if args.trace:
            spark.stop()  # flushes the event log
            groups = read_event_log(event_dir)
            spark = start_session(scratch, None)
            if args.workload == "lake_nightly":
                res["lake"]["lk"].spark = spark
                layer = lake_layer_metrics(res, tracer, groups)
            else:
                layer = query_layer_metrics(res, tracer, groups)
    finally:
        if spark is not None:
            spark.stop()

    # every rep of every operation, and the ones whose median/min > 1.5
    reps = dict(res["reps"])
    reps["canary_start"], reps["canary_end"] = canary_start, canary_end
    reps["setup"] = setups
    noisy = sorted(k for k, v in reps.items() if v and min(v) > 0 and med(v) / min(v) > 1.5)
    print("# reps " + json.dumps({k: [round(x, 4) for x in v] for k, v in reps.items()}))
    print("# noisy_ops " + json.dumps(noisy))
    print("# phases_s " + json.dumps({
        "setup": round(t_setup - T0, 2), "workload": round(t_timed - t_setup, 2),
        "after": round(time.perf_counter() - t_timed, 2),
    }))
    named = dict(res["named"])
    named.update({
        "setup_s": (med(setups), "s"),
        "failed_frac": (res["failed"] / res["attempted"], "ratio"),
        "peak_rss_mb": (rss, "MB"),
    })
    for k, (v, unit) in sorted(named.items()):
        print(f"# end_to_end {k} = {v:.6g} {unit}")
    if res["failed_ops"]:
        print("# failed " + json.dumps(res["failed_ops"]))

    all_canary = canary_start + canary_end
    untraced = [dt for tr, dt in res["cycles"] if not tr]
    traced = [dt for tr, dt in res["cycles"] if tr]
    if args.trace:
        groups_all = [g for k, g in groups.items() if k.startswith("span-")]
        n_traced = max(1, sum(1 for tr, _ in res["cycles"] if tr))
        n_ops = max(1, sum(1 for sp in tracer.spans if sp["parent"] is None))

        def total(key):
            return sum(g.get(key, 0) for g in groups_all) / n_traced

        layer.update({
            "session.get_spark_s": (med(sessions), "s"),
            "host.canary_s": (med(all_canary), "s"),
            "trace.overhead_s": (med(traced) - med(untraced) if traced and untraced else 0.0, "s"),
            "spark.jobs_per_op": (sum(g.get("jobs", 0) for g in groups_all) / n_ops, "count"),
            "spark.executor_run_s": (total("executor_run_s"), "s"),
            "spark.shuffle_write_bytes": (total("shuffle_write_bytes"), "B"),
            "spark.spill_bytes": (total("spill_bytes"), "B"),
            "spark.failed_tasks": (sum(g.get("failed_tasks", 0) for g in groups.values()), "count"),
            "python.rows": (total("python_rows"), "count"),
            "python.bytes": (total("python_bytes"), "B"),
            "persist.leaked_rdds": (res["leaked_persists"], "count"),
        })
        for k, (v, unit) in sorted(layer.items()):
            print(f"# per_layer {k} = {v:.6g} {unit}")
        selft = tracer.self_times()
        print("# self_time_s " + json.dumps({k: round(v, 4) for k, v in sorted(selft.items())}))
        print("# spans " + json.dumps(tracer.spans))

    bench = json.load(open(os.path.join(REPO, "BENCHMARK.json")))
    if args.trace:
        keys = [m["name"] for m in bench["per_layer"]]
        metrics = {k: {"value": layer[k][0], "unit": layer[k][1]} for k in keys}
    else:
        e2e = {
            "setup_s": med(setups),
            "cycle_s": res["cycle_s"],
            "geomean_s": res["geomean_s"],
            "peak_rss_mb": rss,
        }
        units = {m["name"]: m["unit"] for m in bench["end_to_end"]}
        metrics = {k: {"value": e2e[k], "unit": units[k]} for k in units}
    result = {
        "correct": res["failed"] == 0,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    }
    with open(os.path.join(scratch, "result.json"), "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
