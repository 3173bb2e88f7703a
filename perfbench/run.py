"""CDC engine benchmark: seeded WAL replay with interleaved point reads and
full scans, a final-state oracle, and an optional traced per-layer split.

Run from the repository root::

    python3 perfbench/run.py --workload mor_bulk --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1      # every workload

One run builds a pinned local Spark session, takes its inputs from the
input cache (generating them with ``sources.datagen`` on a miss, untimed),
bootstraps the base table, replays warm-up epochs, then replays the timed
epochs through ``CdcEngine.run(max_epochs=1)``; after each epoch it issues
the workload's point lookups (closed loop, one client) and, every few
epochs, a full ``LakeTable.read`` into Spark's ``noop`` sink. The final
table is compared with an independent oracle and ``maintenance.verify``.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``). The line before it is a detail
record (settings, box-drift loop, per-epoch samples, oracle counts); the
same record, plus spans and stage metrics of traced runs, is written under
``.perfbench/results``. Exit code 1 when the oracle, ``verify`` or any
operation fails, 2 when the engine package is missing.
"""

from __future__ import annotations

import argparse
import dataclasses
import inspect
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from workloads import WORKLOADS, Workload, inputs  # noqa: E402

DRIVER_MEMORY = "2g"
BOOTSTRAPS = 3  # set-up repeats; setup_s uses the median bootstrap
DRIFT_LOOP_N = 1_000_000

END_TO_END = {
    "ingest_eps": "events/s",
    "epoch_s_p50": "s",
    "lookup_ms_p50": "ms",
    "scan_rows_per_s": "rows/s",
    "write_amp": "ratio",
    "live_bytes_per_row": "B",
    "setup_s": "s",
}


def drift_loop() -> float:
    """Seconds for a fixed single-thread pure-Python loop (box-drift probe;
    recorded beside the metrics, never used to scale them)."""
    t = time.perf_counter()
    acc = 0
    for i in range(DRIFT_LOOP_N):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t


def build(work: str):
    """Build the pinned session; returns (spark, seconds, settings)."""
    from e_commerce_batch_etl_pipeline_spark.session import build_session

    for v in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_PREHEAT", "SPARK_DRIVER_MEMORY"):
        os.environ.pop(v, None)
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # no hsperfdata files in /tmp from the launcher or the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    tempfile.tempdir = tmp
    cpus = len(os.sched_getaffinity(0))
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    t = time.perf_counter()
    spark = build_session(
        app_name="perfbench", master=f"local[{cpus}]", extra_conf=conf
    )
    build_s = time.perf_counter() - t
    got = dict(spark.sparkContext.getConf().getAll())
    keys = ["spark.master", "spark.driver.memory", "spark.sql.shuffle.partitions",
            "spark.default.parallelism", "spark.ui.enabled",
            "spark.ui.showConsoleProgress", "spark.sql.adaptive.enabled"]
    settings = {k: got.get(k) for k in keys}
    settings["preheat"] = "as shipped"
    return spark, build_s, settings


def stop(spark) -> None:
    """Stop Spark and wait for the JVM the session launched to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def engine_kwargs(w: Workload) -> dict:
    """The workload's CdcEngine arguments. One the engine no longer takes is
    left out, so the benchmark still runs against an engine that dropped a
    knob (the timed window's per-layer counts show the path taken)."""
    from e_commerce_batch_etl_pipeline_spark.streaming.microbatch import CdcEngine

    params = inspect.signature(CdcEngine.__init__).parameters
    kw = {"merge_mode": w.merge_mode}
    kw.update({k: v for k, v in w.engine_kwargs if k in params})
    return kw


class Run:
    """One benchmark run: set-up, the timed window, the checks."""

    def __init__(self, w: Workload, seed: int, trace: bool):
        self.w = w
        self.seed = seed
        self.trace = trace
        self.rng = random.Random(seed)
        self.work = os.path.join(STATE, "work", f"run-{os.getpid()}")
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.epochs: list[dict] = []
        self.lookups: list[dict] = []
        self.scans: list[dict] = []
        self.tracer = None

    # ---------- operations ----------

    def _op(self, kind: str, fn):
        """Run one counted operation; failures are recorded, not raised."""
        self.attempted += 1
        try:
            return fn()
        except Exception as exc:  # a failed operation is a result
            self.failed += 1
            self.errors.append(f"{kind}: {type(exc).__name__}: {exc}"[:500])
            return None

    def epoch(self, e: int, timed: bool) -> bool:
        def go():
            t = time.perf_counter()
            res = self.engine.run(max_epochs=1)
            dt = time.perf_counter() - t
            if len(res) != 1 or res[0].status != "committed":
                raise RuntimeError(f"epoch {e}: {res}")
            return res[0], dt

        out = self._op("epoch", go) if timed else go()
        if out is None:
            return False
        r, dt = out
        snap = self.table.current()
        deltas = sum(1 for f in snap.files if f.get("kind") == "delta")
        self.epochs.append({
            "epoch": e, "timed": timed, "s": dt,
            "events": self.meta["segment_events"][e],
            "wal_bytes": self.meta["segment_bytes"][e],
            "rows_valid": r.rows_valid, "conflicts": r.conflicts,
            "rows_applied": r.rows_applied,
            "buckets_touched": r.buckets_touched,
            "version": snap.version, "live_files": len(snap.files),
            "delta_files": deltas,
        })
        return True

    def lookup(self, timed: bool) -> None:
        w = self.w
        if self.rng.random() < 0.1:  # absent: datagen never reaches 9e8
            key, live = f"doc_{900_000_000 + self.rng.randrange(10**8):09d}", False
        else:
            key, live = f"doc_{self.rng.randrange(w.base_n):09d}", True
        sc = self.spark.sparkContext

        def go():
            sc.setJobDescription("bench.lookup")
            try:
                t = time.perf_counter()
                df = self.table.lookup(self.spark, [key])
                rows = df.collect()
                dt = time.perf_counter() - t
            finally:
                sc.setJobDescription(None)
            if len(rows) > 1 or any(r["doc_id"] != key for r in rows):
                raise RuntimeError(f"lookup {key}: {len(rows)} rows")
            if rows and rows[0]["n_tok"] != len(rows[0]["tokens"]):
                raise RuntimeError(f"lookup {key}: n_tok mismatch")
            if not live and rows:
                raise RuntimeError(f"lookup {key}: absent key found")
            rec = {"ms": dt * 1000, "found": bool(rows)}
            if self.trace and timed:
                rec["files_read_share"] = self._files_share(df, key)
            return rec

        rec = self._op("lookup", go) if timed else go()
        if rec is not None and timed:
            self.lookups.append(rec)

    def _files_share(self, df, key: str) -> float:
        from e_commerce_batch_etl_pipeline_spark.tables.murmur import key_bucket

        snap = self.table.current()
        b = key_bucket(key, "string", snap.num_buckets)
        live = sum(1 for f in snap.files if f["bucket"] == b)
        return len(df.inputFiles()) / live if live else 0.0

    def scan(self, timed: bool) -> None:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        sc = self.spark.sparkContext

        def go():
            obs = Observation("scan")
            sc.setJobDescription("bench.scan")
            try:
                t = time.perf_counter()
                (self.table.read(self.spark)
                 .observe(obs, F.count(F.lit(1)).alias("rows"))
                 .write.format("noop").mode("overwrite").save())
                dt = time.perf_counter() - t
            finally:
                sc.setJobDescription(None)
            return {"s": dt, "rows": int(obs.get["rows"])}

        rec = self._op("scan", go) if timed else go()
        if rec is not None and timed:
            self.scans.append(rec)

    def round(self, i: int, e: int, timed: bool) -> bool:
        """One epoch and the reads that follow it. Warm-up rounds issue one
        lookup each and a scan after the last warm-up epoch."""
        ok = self.epoch(e, timed)
        if ok:
            for _ in range(self.w.lookups_per_epoch if timed else 1):
                self.lookup(timed)
            if (self.w.scan_every and (i + 1) % self.w.scan_every == 0
                    if timed else i == self.w.epochs_warmup - 1):
                self.scan(timed)
        if self.tracer is not None:
            self.tracer.harvest_stages()
        return ok

    # ---------- the run ----------

    def execute(self) -> dict:
        from e_commerce_batch_etl_pipeline_spark.sources.wal import WalSource
        from e_commerce_batch_etl_pipeline_spark.streaming.bootstrap import (
            bootstrap_table,
        )
        from e_commerce_batch_etl_pipeline_spark.streaming.microbatch import (
            CdcEngine,
        )

        w = self.w
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        drift_before = drift_loop()
        spark, build_s, settings = build(self.work)
        self.spark = spark
        self.slots = spark.sparkContext.defaultParallelism
        try:
            t = time.perf_counter()
            src, self.meta = inputs(
                spark, w, self.seed, os.path.join(STATE, "cache")
            )
            gen_s = time.perf_counter() - t
            base_dir = os.path.join(src, "base")
            wal_root = os.path.join(src, "wal")

            boots = []
            for i in range(BOOTSTRAPS):
                root = os.path.join(self.work, f"table-{i}")
                t = time.perf_counter()
                self.table = bootstrap_table(
                    root, spark.read.parquet(base_dir),
                    num_buckets=w.num_buckets,
                )
                boots.append(time.perf_counter() - t)
                if i:
                    shutil.rmtree(os.path.join(self.work, f"table-{i - 1}"))
            self.engine = CdcEngine(
                spark, self.table, WalSource(wal_root),
                os.path.join(self.work, "ckpt"), **engine_kwargs(w),
            )
            if self.trace:
                from tracing import Tracer

                self.tracer = Tracer(spark)
                self.tracer.install()
                self.tracer.tag = "warmup"

            t = time.perf_counter()
            for i in range(w.epochs_warmup):
                self.round(i, i, timed=False)
            warmup_s = time.perf_counter() - t
            setup_s = build_s + statistics.median(boots) + warmup_s

            if self.tracer is not None:
                self.tracer.tag = "timed"
            v0 = self.table.current().version
            t = time.perf_counter()
            for i in range(w.epochs_timed):
                if not self.round(i, w.epochs_warmup + i, timed=True):
                    break  # table state is unknown after a failed epoch
            window_s = time.perf_counter() - t
            if self.tracer is not None:
                self.tracer.tag = "check"
                self.tracer.uninstall()

            t = time.perf_counter()
            written = self._committed_bytes(v0)
            from oracle import check

            oracle = check(spark, self.table, base_dir, wal_root,
                           w.epochs_total)
            check_s = time.perf_counter() - t
            snap = self.table.current()
            live_bytes = sum(
                os.path.getsize(os.path.join(self.table.root, f["path"]))
                for f in snap.files
            )
        finally:
            stop(spark)
        drift_after = drift_loop()

        timed = [e for e in self.epochs if e["timed"]]
        events = sum(e["events"] for e in timed)
        wal_bytes = sum(e["wal_bytes"] for e in timed)
        lk = [x["ms"] for x in self.lookups]
        e2e = {
            "ingest_eps": events / sum(e["s"] for e in timed) if timed else 0.0,
            "epoch_s_p50": statistics.median(e["s"] for e in timed) if timed else 0.0,
            "lookup_ms_p50": statistics.median(lk) if lk else 0.0,
            "scan_rows_per_s": (
                sum(s["rows"] for s in self.scans)
                / sum(s["s"] for s in self.scans) if self.scans else 0.0
            ),
            "write_amp": written["total"] / wal_bytes if wal_bytes else 0.0,
            "live_bytes_per_row": live_bytes / max(1, oracle["rows"]),
            "setup_s": setup_s,
        }
        detail = {
            "workload": w.name, "seed": self.seed, "trace": self.trace,
            "settings": settings,
            "drift_loop_s": {"before": drift_before, "after": drift_after},
            "phases_s": {"build_session": build_s, "inputs": gen_s,
                         "bootstrap": boots, "warmup": warmup_s,
                         "window": window_s, "checks": check_s},
            "error_rate": self.failed / max(1, self.attempted),
            "errors": self.errors,
            "lookup_samples": len(lk),
            "scan_samples": len(self.scans),
            "timed_events": events, "timed_wal_bytes": wal_bytes,
            "committed_bytes": written,
            "live_bytes": live_bytes,
            "oracle": oracle,
            "end_to_end": e2e,
            "epochs": self.epochs,
        }
        if self.tracer is not None:
            from layers import per_layer

            detail["per_layer"] = per_layer(self, timed, written, boots, build_s)
        correct = oracle["ok"] and self.failed == 0 and len(timed) == w.epochs_timed
        return {"correct": correct, "detail": detail}

    def _committed_bytes(self, v0: int) -> dict:
        """Bytes of data files first referenced by a snapshot committed
        after version ``v0``, split into ingest and compaction commits."""
        seen = {f["path"] for f in self.table.snapshot_at(v0).files}
        out = {"ingest": 0, "compaction": 0}
        for v in self.table.history():
            if v <= v0:
                continue
            snap = self.table.snapshot_at(v)
            kind = "compaction" if snap.props.get("compaction") else "ingest"
            for f in snap.files:
                if f["path"] not in seen:
                    seen.add(f["path"])
                    out[kind] += os.path.getsize(
                        os.path.join(self.table.root, f["path"])
                    )
        out["total"] = out["ingest"] + out["compaction"]
        return out


def sized(w: Workload, seconds: int) -> Workload:
    """Scale the timed window in whole cycles to about ``seconds``."""
    cycles = max(1, round(seconds / w.cycle_seconds))
    timed = cycles * w.cycle_epochs
    return dataclasses.replace(w, epochs_timed=timed)


def run_all(args) -> int:
    """Run every workload in its own process; print each result."""
    rc = 0
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        p = subprocess.run(cmd, capture_output=True, text=True)
        lines = p.stdout.strip().splitlines()
        res = json.loads(lines[-1]) if p.returncode in (0, 1) and lines else None
        if res is None:
            print(f"{name}: exit {p.returncode}\n{p.stderr[-2000:]}")
            rc = rc or p.returncode or 1
            continue
        rc = rc or p.returncode
        print(f"{name}: correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']}")
        for k, m in res["metrics"].items():
            print(f"  {k:32s} {m['value']:14.4f} {m['unit']}")
    return rc


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        import e_commerce_batch_etl_pipeline_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: engine package not importable: {exc}",
              file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)

    w = sized(WORKLOADS[args.workload], args.seconds)
    r = Run(w, args.seed, bool(args.trace))
    try:
        out = r.execute()
    finally:
        shutil.rmtree(r.work, ignore_errors=True)
    detail = out["detail"]
    if args.trace:
        from layers import PER_LAYER

        metrics = {k: {"value": detail["per_layer"][k], "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": detail["end_to_end"][k], "unit": u}
                   for k, u in END_TO_END.items()}
    os.makedirs(os.path.join(STATE, "results"), exist_ok=True)
    stem = f"{w.name}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(STATE, "results", stem + ".json"), "w") as f:
        json.dump(detail, f, indent=1, default=str)
    if r.tracer is not None:
        with open(os.path.join(STATE, "results", stem + "-spans.jsonl"), "w") as f:
            for s in r.tracer.spans:
                f.write(json.dumps({**dataclasses.asdict(s), "self_s": s.self_s}) + "\n")
        with open(os.path.join(STATE, "results", stem + "-stages.jsonl"), "w") as f:
            for s in r.tracer.stages:
                f.write(json.dumps(s) + "\n")
    print(json.dumps({k: v for k, v in detail.items() if k != "epochs"},
                     default=str))
    print(json.dumps({
        "correct": bool(out["correct"]),
        "attempted": r.attempted,
        "failed": r.failed,
        "metrics": metrics,
    }))
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
