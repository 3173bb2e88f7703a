"""Workload definitions and seeded input generation for the CDC benchmark.

Every workload replays a WAL produced by the engine's own generator
(``sources.datagen``) into a table bootstrapped from a generated base, and
interleaves point lookups and full scans between epochs. Inputs depend only
on ``(workload, seed)`` and on the generator's source code; they are built
once and cached under ``.perfbench/cache`` so generation never lands in a
timed region.
"""

from __future__ import annotations

import dataclasses
import hashlib
import inspect
import json
import os
import shutil
from dataclasses import dataclass

CACHE_KEEP = 8  # cached (workload, seed) inputs kept on disk


@dataclass(frozen=True)
class Workload:
    name: str
    merge_mode: str  # "mor" | "cow"
    base_n: int
    epochs_warmup: int
    # the timed window is whole cycles of ``cycle_epochs`` epochs; one
    # cycle takes about ``cycle_seconds`` on a 4-vCPU box (run.sized)
    cycle_epochs: int
    cycle_seconds: float
    events_per_epoch: int
    # epochs e with e % burst_every == 1 carry ``burst_events``, so the
    # second warm-up epoch is already a burst
    burst_every: int = 0
    burst_events: int = 0
    hot_key_frac: float = 0.20
    max_len: int = 128
    num_buckets: int = 16
    # CdcEngine keyword arguments that differ from the engine's defaults
    engine_kwargs: tuple = ()
    # first epoch whose envelopes carry datagen's extra ``lang`` column
    evolve_from_epoch: int | None = None
    lookups_per_epoch: int = 0
    scan_every: int = 0  # a full scan after every n-th epoch (0 = never)
    epochs_timed: int = 0  # set by run.sized from --seconds

    @property
    def epochs_total(self) -> int:
        return self.epochs_warmup + self.epochs_timed

    def events(self, epoch: int) -> int:
        if self.burst_every and epoch % self.burst_every == 1:
            return self.burst_events
        return self.events_per_epoch

    @property
    def stride(self) -> int:
        return max(self.events_per_epoch, self.burst_events)


WORKLOADS = {
    w.name: w
    for w in [
        # Merge-on-read epochs whose time is the staging job (WAL decode ->
        # validation -> key exchange -> LWW -> staged write), datagen's
        # default skewed mix, inline compaction at the engine's default
        # budget (one fold every 8 epochs, so exactly one lands in the 8
        # timed epochs), a schema-evolution epoch inside the window, and
        # scans and lookups that resolve LWW over pending delta files.
        Workload(
            name="mor_bulk",
            merge_mode="mor",
            base_n=20_000,
            epochs_warmup=2,
            cycle_epochs=8,
            cycle_seconds=20.0,
            events_per_epoch=10_000,
            evolve_from_epoch=5,
            lookups_per_epoch=2,
            scan_every=2,
        ),
        # Copy-on-write with uniform keys and a burst every 4th epoch. The
        # broadcast threshold is scaled with the table (the engine default
        # of 100k rows is half of a 200k-row table; here 8k of 16k), so the
        # small epochs take ``merge_upsert`` and the bursts take
        # ``merge_upsert_lww``; every epoch rewrites its touched buckets.
        Workload(
            name="cow_bursty",
            merge_mode="cow",
            base_n=16_000,
            epochs_warmup=2,
            cycle_epochs=4,
            cycle_seconds=10.0,
            events_per_epoch=3_000,
            burst_every=4,
            burst_events=18_000,
            hot_key_frac=0.0,
            engine_kwargs=(("broadcast_threshold", 8_000),),
            lookups_per_epoch=3,
            scan_every=1,
        ),
    ]
}


def _cache_key(w: Workload, seed: int) -> str:
    from e_commerce_batch_etl_pipeline_spark.sources import datagen

    h = hashlib.sha256()
    h.update(inspect.getsource(datagen).encode())
    h.update(inspect.getsource(_generate).encode())
    h.update(json.dumps(dataclasses.asdict(w), sort_keys=True).encode())
    h.update(str(seed).encode())
    return f"{w.name}-s{seed}-{h.hexdigest()[:16]}"


def _generate(spark, w: Workload, seed: int, out: str) -> dict:
    """Write ``out/base`` and ``out/wal/epoch-NNNNN`` with datagen.

    The WAL is generated as one datagen epoch per block of segments and
    cut into segments by lsn, so the whole WAL costs one Spark job per
    block instead of one per segment. ``lsn`` stays globally monotone and
    every segment gets its own ``epoch`` value. A block boundary sits at
    ``evolve_from_epoch``, because datagen adds the ``lang`` column per
    generated epoch.
    """
    from pyspark.sql import functions as F

    from e_commerce_batch_etl_pipeline_spark.sources import datagen

    datagen.generate_base_docs(
        spark, w.base_n, seed=seed, max_len=w.max_len
    ).write.parquet(os.path.join(out, "base"))

    n = w.epochs_total
    cut = w.evolve_from_epoch
    blocks = [(0, n)] if cut is None else [(0, cut), (cut, n)]
    span = n * w.stride  # lsn width of one block
    sizes = [w.events(e) for e in range(n)]
    raw_dir = os.path.join(out, "wal_raw")
    for block, (lo, hi) in enumerate(blocks):
        df = datagen.generate_wal_epoch(
            spark, block, span, w.base_n, seed=seed, max_len=w.max_len,
            hot_key_frac=w.hot_key_frac,
            evolve_from_epoch=None if cut is None else 1,
        )
        off = F.col("lsn") - F.lit(block * span)
        seg = (F.lit(lo) + (off / F.lit(w.stride)).cast("long")).cast("int")
        size = F.element_at(F.lit(sizes).cast("array<int>"), seg + 1)
        df = (
            df.filter(off < F.lit((hi - lo) * w.stride))
            .withColumn("epoch", seg)
            .filter(off % F.lit(w.stride) < size)
            .withColumn("_seg", F.col("epoch"))
        )
        df.write.mode("append").partitionBy("_seg").parquet(raw_dir)
    wal = os.path.join(out, "wal")
    os.makedirs(wal)
    for e in range(n):
        os.rename(
            os.path.join(raw_dir, f"_seg={e}"),
            os.path.join(wal, f"epoch-{e:05d}"),
        )
    shutil.rmtree(raw_dir)
    return {"segment_events": sizes}


def wal_segment_bytes(seg_dir: str) -> int:
    return sum(
        os.path.getsize(os.path.join(seg_dir, f))
        for f in os.listdir(seg_dir)
        if f.endswith(".parquet")
    )


def inputs(spark, w: Workload, seed: int, cache_root: str) -> tuple[str, dict]:
    """Return ``(dir, meta)`` of the cached inputs, generating on a miss."""
    os.makedirs(cache_root, exist_ok=True)
    path = os.path.join(cache_root, _cache_key(w, seed))
    meta_path = os.path.join(path, "meta.json")
    if os.path.exists(meta_path):
        os.utime(path)
        with open(meta_path) as f:
            return path, json.load(f)
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    meta = _generate(spark, w, seed, tmp)
    meta["segment_bytes"] = [
        wal_segment_bytes(os.path.join(tmp, "wal", f"epoch-{e:05d}"))
        for e in range(w.epochs_total)
    ]
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    os.replace(tmp, path)
    _evict(cache_root, keep=path)
    return path, meta


def _evict(cache_root: str, keep: str) -> None:
    entries = sorted(
        (os.path.join(cache_root, d) for d in os.listdir(cache_root)),
        key=os.path.getmtime,
        reverse=True,
    )
    for old in entries[CACHE_KEEP:]:
        if old != keep:
            shutil.rmtree(old, ignore_errors=True)
