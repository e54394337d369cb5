"""``clip_backfill``: ``SpecStreamJob`` drains a pre-generated clip table
to completion with ``availableNow``, over and over for the measured
time, each drain into fresh output and checkpoint directories.

Large micro-batches (``MAX_FILES_PER_TRIGGER`` files of ``N_CLIPS /
N_FILES`` clips each), so decode throughput and sink write volume
dominate. Every drain's merged tables are checked against the batch
engine after the timed region.
"""

from __future__ import annotations

import os
import time

import clipjob
from harness import Bench, median, repeat_for

N_CLIPS = 3000
N_FILES = 6
MAX_FILES_PER_TRIGGER = 3
#: Drains of a one-file input before timing. Drain times keep falling
#: for about twenty drains while the JIT compiles the per-drain and
#: per-trigger paths (query start, planning, commits); a small drain
#: warms them at a fraction of a full drain's cost.
SMALL_DRAINS = 10
#: Reduced table of the traced run's local[1] vs local[nproc] pair.
SCALE_CLIPS, SCALE_FILES = 1200, 6


class Backfill:
    def __init__(self, bench: Bench):
        self.b = bench
        self.inp = bench.path("input")
        self.read_ms: list[float] = []

    def fixtures(self) -> None:
        self.files = clipjob.write_clip_files(
            self.b.spark, self.inp, N_CLIPS, N_FILES, self.b.seed)
        self.n_input = self.b.spark.read.parquet(self.inp).count()

    def input_of(self, tag: str, files: list[str]) -> str:
        """A directory of hard links to some of the fixture files."""
        d = self.b.path(tag)
        os.makedirs(d)
        for p in files:
            os.link(p, os.path.join(d, os.path.basename(p)))
        return d

    def warm_up(self) -> None:
        """A cold drain of one fixture file per core in one trigger (one
        decode task, and so one Python worker, per core), the small
        drains, and one untimed drain of the measured input: the first
        drain of an input runs about a tenth slower than the ones after
        it."""
        self.drain(self.input_of("warm_input", self.files[:self.b.cores]),
                   self.b.cores)
        small = self.input_of("small_input", self.files[:1])
        for _ in range(SMALL_DRAINS):
            self.drain(small, MAX_FILES_PER_TRIGGER)
        self.drain(self.inp, MAX_FILES_PER_TRIGGER)

    def drain(self, input_dir: str, max_files_per_trigger: int):
        """One full drain; returns (job, query handle, wall seconds)."""
        job = clipjob.make_job(input_dir, self.b.fresh_dir("drain"),
                               max_files_per_trigger)
        t0 = time.monotonic()
        with self.b.span("stream.drain"):
            q = job.run_to_completion(self.b.spark, timeout_s=170)
        return job, q, time.monotonic() - t0

    def measure(self) -> dict:
        """Drain repeatedly for the measured time."""
        started = time.monotonic()
        runs = repeat_for(self.b.seconds, lambda: self.drain(
            self.inp, MAX_FILES_PER_TRIGGER), lambda r: r[2])
        walls = [w for _, _, w in runs]
        return {
            "jobs": [(job, q) for job, q, _ in runs],
            "ops": len(runs),
            "started": started,
            "samples": [round(w, 3) for w in walls],
            "rows_per_s": self.n_input / median(walls),
            "wall_s": sum(walls),
            "input_dir": self.inp,
        }

    def oracle(self, result: dict) -> clipjob.ClipOracle:
        """Expected outputs; every pass of a run reads the same input."""
        return clipjob.ClipOracle(self.b.spark, result["input_dir"])

    def check(self, result: dict, oracle: clipjob.ClipOracle
              ) -> tuple[int, int, list[str]]:
        """Check every job of a measured pass; returns (attempted
        micro-batches, failed micro-batches, mismatch messages). A job
        whose merged output is wrong fails with all its micro-batches.
        The time each job's merged read takes is kept in ``read_ms``."""
        attempted, failed, bad = 0, 0, []
        self.read_ms = []
        for job, _ in result["jobs"]:
            batches = max(1, len(job.tables["Clip"].committed_batches())
                          + len(job.tables["CodecWindow"]
                                .committed_batches()))
            attempted += batches
            t0 = time.monotonic()
            errs = oracle.check(self.b.spark, job)
            self.read_ms.append((time.monotonic() - t0) * 1000.0)
            if errs:
                failed += batches
                bad.extend(errs)
        return attempted, failed, bad
