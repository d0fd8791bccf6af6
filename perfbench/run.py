"""Benchmark entry point.

    python3 perfbench/run.py --workload join_tile|ingest_tile|dedup_lsh \
        --seed N --seconds S --trace 0|1

``--workload all`` runs the three in turn, one process each, and prints
their lines followed by one JSON object whose metric names carry the
workload as a prefix.

Run from the root of a checkout.  Inputs are generated from --seed; the
program only sees the generated tables.  The last stdout line is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``; the lines before
it (prefixed ``#``) name each metric with its unit and sample count, the
base of ``success_ratio`` and any failed check.

--trace 0 (end-to-end, event log off):
  setup_s        process start -> ready to time: session start + the
                 median of three input generations + warm-up
  rows_per_s     input rows / median repetition wall time (images for
                 join_tile and ingest_tile, quarantined rows included;
                 documents for dedup_lsh)
  resume_s       ingest_tile: median time to finish the pyramid from a
                 store holding only the committed base zoom; the other
                 two jobs keep no checkpoint, so a crash costs a full
                 re-run and resume_s is the median repetition
  success_ratio  rows that passed the output check / rows checked
--trace 1 (per-layer): every per_layer metric of BENCHMARK.json; layers
a workload bypasses read 0.  After the warm-up the session times up to
``min_reps`` repetitions with the event log off and as many with it on,
each of those under one job label, alternating the two and starting no
new pair after 2 x --seconds: ``trace.overhead_s`` is the difference of
the two medians.  Then the traced pass runs twice (one job label per
layer materialisation) and the counts named in ``CITED`` must repeat
exactly.  The Python workers run ``callprobe``, which times each decoder
and warp call of a labelled job.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("join_tile", "ingest_tile", "dedup_lsh")
LAYERS = ("cells", "spatial_join", "mercator", "codecs", "tiles", "snapshots",
          "similarity")
#: counts later changes may cite: must repeat exactly across traced passes
CITED = (
    "spatial_join.candidates", "spatial_join.matches",
    "tiles.patches_per_image", "tiles.patch_passes",
    "codecs.status_ok", "codecs.status_unsupported", "codecs.status_corrupt",
    "codecs.decode_rows_per_ok_row",
    "similarity.bucket_max", "similarity.pairs_emitted", "similarity.pairs_out",
)
N_SETUPS = 3
#: pass label of the labelled repetitions of a traced run
REP_TAG = "0"


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _args() -> argparse.Namespace:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=(*WORKLOADS, "all"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def main() -> int:
    args = _args()
    if args.workload == "all":
        return _all(args)
    # a terminated run still stops its JVM and workers (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "gdal_spark", "__init__.py")):
        print(f"perfbench: no gdal_spark package under {ROOT}; run from the "
              "root of a full checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import harness as H

    spec = _spec()
    run = H.Run(args.workload, args.seed, args.seconds, bool(args.trace))
    H.make_run_dir(run)
    spark = None
    try:
        spark = H.start_session(run)
        t_session = time.perf_counter() - T_PROCESS
        wl = importlib.import_module(args.workload).Workload(spark, run)
        gen_s = []
        for _ in range(N_SETUPS):
            t0 = time.perf_counter()
            wl.generate()
            gen_s.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.warm()
        warm_s = time.perf_counter() - t0
        setup_s = t_session + H.median(gen_s) + warm_s
        if run.trace:
            metrics, notes, correct, attempted, failed = _traced(
                H, spark, run, wl, spec, t_session, H.median(gen_s))
            spark = None
        else:
            samples = H.timed_loop(run.seconds, wl.rep, wl.min_reps)
            e2e = wl.e2e(samples)
            chk = wl.check()
            n = len(samples)
            units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
            metrics = {
                "rows_per_s": (e2e["rows_per_s"], units["rows_per_s"], n),
                "resume_s": (e2e["resume_s"], units["resume_s"], n),
                "success_ratio": (chk.ratio, units["success_ratio"], 1),
                "setup_s": (setup_s, units["setup_s"], N_SETUPS),
            }
            notes = [f"workload {run.workload} seed {run.seed} parallelism "
                     f"local[{H.PARALLELISM}] repetitions {n} "
                     f"(setup: session {t_session:.3f}s, datagen median of "
                     f"{N_SETUPS} {H.median(gen_s):.3f}s, warm-up {warm_s:.3f}s)",
                     "repetition seconds " + ", ".join(
                         "/".join(f"{v:.3f}" for v in smp.values()) for smp in samples),
                     f"success_ratio = {chk.passed}/{chk.base} {chk.base_desc}"]
            notes += [f"FAILED CHECK {f}" for f in chk.failures]
            correct = not chk.failures
            attempted, failed = chk.base, chk.base - chk.passed
    finally:
        if spark is not None:
            H.stop_session(spark)
        shutil.rmtree(run.dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run.dir))  # only if no other run uses it
        except OSError:
            pass
    H.emit(correct, attempted, failed, metrics, notes)
    return 0


def _traced(H, spark, run, wl, spec, t_session, gen_s):
    """Repetitions with the event log off and on (one job label each),
    alternated so that a JVM still warming up favours neither; then two
    traced passes; then the event log and the worker call log."""
    from callprobe import read as read_calls
    from eventlog import find_log, parse, rollup

    elog = H.EventLog(spark)
    rep_tr = H.Tracer(spark, REP_TAG)
    plain, labelled = [], []
    start = time.perf_counter()
    for i in range(wl.min_reps):
        if i and time.perf_counter() - start >= 2 * run.seconds:
            break
        for logged in ((False, True) if i % 2 == 0 else (True, False)):
            if logged:
                elog.on()
            t0 = time.perf_counter()
            rep_tr.span("rep", "all", wl.rep) if logged else wl.rep()
            (labelled if logged else plain).append(time.perf_counter() - t0)
            if logged:
                elog.off()
    elog.on()
    passes = []
    for tag in ("1", "2"):
        tr = H.Tracer(spark, tag)
        t0 = time.perf_counter()
        passes.append((tag, wl.trace(tr), time.perf_counter() - t0))
    elog.off()
    elog.close()
    chk = wl.check()
    H.stop_session(spark)
    log = parse(find_log(run.path("events")))
    calls = read_calls(run.path("calls.tsv"))

    for tag, vals, _ in passes:
        vals.update(wl.from_log(log, calls, tag))
    tag, first, _ = passes[0]
    vals = dict(first)
    for layer in LAYERS:
        for k, v in rollup(log.select(layer, None, tag)).items():
            vals[f"{layer}.{k}"] = v
    # Python decode and warp inside one labelled repetition (worker
    # seconds, summed over the task slots) and their share of its slot time
    rep_calls = [c for c in calls if c[2] == f"rep|all|{REP_TAG}"]
    for key, fn in (("codecs.decode_s", "decode_image"), ("tiles.warp_s", "warp_array")):
        vals[key] = sum(s for f, s, _ in rep_calls if f == fn) / len(labelled)
    vals["tiles.decode_warp_share"] = (
        (vals["codecs.decode_s"] + vals["tiles.warp_s"])
        / (H.median(labelled) * H.PARALLELISM))
    vals["session.start_s"] = t_session
    vals["datagen.s"] = gen_s
    vals["trace.overhead_s"] = H.median(labelled) - H.median(plain)
    vals["spark.jvm_peak_rss_mb"] = log.jvm_peak_rss_bytes / 2**20
    vals["spark.pyworker_peak_rss_mb"] = log.pyworker_peak_rss_bytes / 2**20

    second = passes[1][1]
    drift = [f"{k}: {first.get(k)} then {second.get(k)}" for k in CITED
             if first.get(k, 0) != second.get(k, 0)]
    metrics = {}
    for m in spec["per_layer"]:
        metrics[m["name"]] = (float(vals.get(m["name"], 0.0)), m["unit"], 1)
    unknown = sorted(set(vals) - set(metrics))
    fmt = lambda xs: ", ".join(f"{x:.3f}" for x in xs)  # noqa: E731
    notes = [f"workload {run.workload} seed {run.seed} traced passes 2 "
             f"({', '.join(f'{p[2]:.3f}s' for p in passes)}); repetitions "
             f"with the event log off: {fmt(plain)} s, on with job labels: "
             f"{fmt(labelled)} s",
             f"output check {chk.passed}/{chk.base} {chk.base_desc}"]
    notes += [f"FAILED CHECK {f}" for f in chk.failures]
    notes += [f"COUNT DID NOT REPEAT {d}" for d in drift]
    notes += [f"UNDECLARED METRIC {u}" for u in unknown]
    correct = not (chk.failures or drift or unknown)
    return metrics, notes, correct, chk.base, chk.base - chk.passed


def _all(args) -> int:
    import subprocess

    out = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in WORKLOADS:
        p = subprocess.run(
            [sys.executable, __file__, "--workload", w, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace)],
            capture_output=True, text=True, check=True)
        *lines, last = p.stdout.strip().splitlines()
        print("\n".join(lines))
        res = json.loads(last)
        out["correct"] &= res["correct"]
        out["attempted"] += res["attempted"]
        out["failed"] += res["failed"]
        out["metrics"].update({f"{w}.{k}": v for k, v in res["metrics"].items()})
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
