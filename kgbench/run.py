"""KG-construction benchmark: one workload, one seed, one result line.

    python3 kgbench/run.py --workload kg_crawl --seed 1 --seconds 20 --trace 0

Run from the root of a checkout of the repository. The run generates the
workload's inputs from the seed (cached under ``.kgbench/data``), starts
``local[4]`` Spark in this process and sets up three times (the median is
``setup_s``). It then runs ops closed-loop, one after another, until
``--seconds`` have passed and at least two ops ran, checking every op's
output against an independent reference. The first op runs on a small
warm-up set; ``op_p50_s`` is the median of the full-size ops after it.
The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` — the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1`` (a separate run
whose first op is the cold full-size op, followed by traced and untraced
ops in turn). Progress goes to standard error.
"""

from __future__ import annotations

import time

T_PROCESS = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

SETUPS = 3
# the warm-up op plus one full-size op: a run of either workload then fits
# the benchmark's time budget (most of a run is set-up and the cold op)
MIN_OPS = 2
CORES = 4


def log(msg: str) -> None:
    print(f"[kgbench +{time.monotonic() - T_PROCESS:.1f}s] {msg}", file=sys.stderr, flush=True)


def start_session(work: str):
    from biocurator_mapper_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark(
        app_name="kgbench",
        master=f"local[{CORES}]",
        extra={
            "spark.driver.memory": "3g",
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def warm_workers(spark) -> None:
    """Spawn the Python worker daemon and one worker per task slot."""
    spark.sparkContext.parallelize(range(CORES), CORES).map(lambda x: x).collect()


def set_up(wl, work: str, prev):
    """One set-up: session up, Python workers spawned, inputs opened. After
    the first, the previous session is stopped first (untimed); the JVM and
    the imported modules stay, so only the first set-up pays their start."""
    if prev is not None:
        prev.stop()
    t0 = time.monotonic()
    spark = start_session(work)
    t1 = time.monotonic()
    warm_workers(spark)
    t2 = time.monotonic()
    wl.open(spark)
    t3 = time.monotonic()
    return spark, {"total": t3 - t0, "session": t1 - t0, "workers": t2 - t1}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="input size factor (tests)")
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "biocurator_mapper_spark")):
        log("run from the root of a checkout: biocurator_mapper_spark/ is missing")
        return 2
    sys.path.insert(0, root)
    from kgbench.workloads import WORKLOADS, prepare_inputs

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        return 2

    base = os.path.join(root, ".kgbench")
    work = os.path.join(base, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # everything the run and its children write stays in the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root, *filter(None, [os.environ.get("PYTHONPATH")])]
    )

    t = time.monotonic()
    data_dir, manifest = prepare_inputs(base, args.workload, args.seed, args.scale)
    gen_s = time.monotonic() - t
    log(f"inputs ready in {gen_s:.1f}s: {data_dir}")
    wl = WORKLOADS[args.workload](data_dir, manifest, args.scale)

    try:
        return run(args, wl, work, gen_s, os.path.join(base, "traces"))
    finally:
        stop_spark()
        shutil.rmtree(work, ignore_errors=True)
        log("stopped")


def stop_spark() -> None:
    """Stop the session, then the JVM this process launched, and wait."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — TimeoutExpired: make sure it ends
            proc.kill()
            proc.wait()


def run(args, wl, work: str, gen_s: float, trace_dir: str) -> int:
    from kgbench import layers
    from kgbench.trace import RssSampler

    wl.prepare(work)
    setups = []
    spark = None
    first_ready = None
    for _ in range(SETUPS):
        spark, s = set_up(wl, work, spark)
        setups.append(s)
        if first_ready is None:
            # the first set-up also pays interpreter and JVM start
            first_ready = time.monotonic() - T_PROCESS - gen_s
    log("set-up s: " + ", ".join(f"{s['total']:.2f}" for s in setups))

    tracer = layers.Tracer(spark, wl) if args.trace else None
    ops: list[dict] = []
    with RssSampler(os.getpid()) as rss:
        t_win = time.monotonic()
        i = 0
        while True:
            # traced run: after the first op, traced and untraced ops
            # alternate t u t, so a linear warm-up drift cancels in the
            # traced-minus-untraced overhead
            traced = tracer is not None and i % 2 == 1
            # the untraced run warms up on the small set; the traced run's
            # first op is the cold full-size op (`first_op_s`)
            warmup = tracer is None and i == 0
            rec = {"i": i, "traced": traced}
            t = time.monotonic()
            try:
                res = tracer.traced_op(i) if traced else wl.op(i, warmup=warmup)
                rec["s"] = time.monotonic() - t
                errs = wl.check(i, res)
                if traced:
                    tracer.after_op(i, res)
                wl.cleanup(res)
            except Exception:  # noqa: BLE001 — a failed op is counted, not fatal
                errs = ["op raised: " + traceback.format_exc(limit=3)]
                rec.setdefault("s", time.monotonic() - t)
            rec["errs"] = errs
            ops.append(rec)
            log(f"op {i}{' traced' if traced else ''}: {rec['s']:.2f}s, checked"
                + (f" FAILED {errs}" if errs else ""))
            i += 1
            n_traced = sum(o["traced"] for o in ops)
            enough = i >= MIN_OPS and (tracer is None or n_traced >= 2 and i % 2 == 0)
            if time.monotonic() - t_win >= args.seconds and enough:
                break
    failed = sum(bool(o["errs"]) for o in ops)
    later = [o for o in ops[1:] if not o["traced"]] or ops
    op_p50 = statistics.median(o["s"] for o in later)
    if tracer is None:
        metrics = {
            "setup_s": (statistics.median(s["total"] for s in setups), "s"),
            "op_p50_s": (op_p50, "s"),
            "inputs_per_s": (wl.items() / op_p50, "1/s"),
            "peak_rss_mb": (rss.peak["total"], "MB"),
        }
    else:
        traced_p50 = statistics.median(o["s"] for o in ops if o["traced"])
        metrics = tracer.metrics(
            setups=setups, first_ready=first_ready, first_op=ops[0]["s"],
            gen_s=gen_s,
            overhead=traced_p50 - op_p50, rss=rss.peak,
            error_rate=failed / len(ops),
        )
        tracer.write_spans(trace_dir, args)
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": len(ops),
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
