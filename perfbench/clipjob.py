"""The clip → graph job of ``clip_backfill``: the 3-target spec
(``Clip`` merge node, ``ENCODED_AS`` merge edge, ``CodecWindow``
tumbling window), its decode/normalize prepare step, seeded clip
fixtures, and the output check against the batch engine and a DuckDB
window oracle.
"""

from __future__ import annotations

import json
import os

from harness import row_digest


WATERMARK = "60 seconds"
#: Window length of ``CodecWindow`` in seconds (oracle bucket width).
WINDOW_S = 10
#: Clip lengths are uniform in [200, MAX_DUR_MS) ms.
MAX_DUR_MS = 1000

CLIP_COLS = ["clip_id", "sr_hz", "dur_ms", "codec", "n_samples",
             "transcript_norm"]
EDGE_COLS = ["clip_id", "codec", "dur_ms"]

SPEC = {
    "sources": [{"type": "bigquery", "name": "clips", "query": "SELECT 1"}],
    "targets": [
        {"name": "Clip", "type": "node", "source": "clips", "mode": "merge",
         "mappings": [
             {"constant": "Clip", "role": "label"},
             {"field": "clip_id", "name": "clip_id", "role": "key",
              "type": "String"},
             {"field": "sr_hz", "name": "sr_hz", "role": "property",
              "type": "Long"},
             {"field": "dur_ms", "name": "dur_ms", "role": "property",
              "type": "Long"},
             {"field": "codec", "name": "codec", "role": "property",
              "type": "String"},
             {"field": "n_samples", "name": "n_samples",
              "role": "property", "type": "Long"},
             {"field": "transcript_norm", "name": "transcript_norm",
              "role": "property", "type": "String"},
         ]},
        {"name": "ENCODED_AS", "type": "edge", "source": "clips",
         "mode": "merge",
         "mappings": [
             {"constant": "ENCODED_AS", "role": "type", "fragment": "rel"},
             {"field": "clip_id", "name": "clip_id", "role": "key",
              "fragment": "source", "label": "Clip", "type": "String"},
             {"field": "codec", "name": "codec", "role": "key",
              "fragment": "target", "label": "Codec", "type": "String"},
             {"field": "dur_ms", "name": "dur_ms", "role": "property",
              "type": "Long"},
         ]},
        {"name": "CodecWindow", "type": "node", "source": "clips",
         "mode": "merge",
         "transform": {
             "group": True,
             "window": {"type": "tumbling", "duration": f"{WINDOW_S} seconds"},
             "aggregations": [
                 {"expr": "count(*)", "field": "n_clips"},
                 {"expr": "sum(dur_ms)", "field": "total_ms"},
             ],
         },
         "mappings": [
             {"constant": "CodecWindow", "role": "label"},
             {"field": "codec", "name": "codec", "role": "key",
              "type": "String"},
             {"field": "n_clips", "name": "n_clips", "role": "property",
              "type": "Long"},
             {"field": "total_ms", "name": "total_ms", "role": "property",
              "type": "Long"},
         ]},
    ],
}


def parse_spec():
    from dataflow_flex_templates_spark.spec.parser import parse_job_spec

    return parse_job_spec(json.dumps(SPEC))


def prepare(df):
    """Decode (Arrow UDF) and normalize the transcript; drop the payload."""
    from pyspark.sql import functions as F

    from dataflow_flex_templates_spark.functions.audio import (
        normalize_transcript,
        with_audio_features,
    )

    return (with_audio_features(df)
            .withColumn("transcript_norm",
                        normalize_transcript(F.col("transcript")))
            .drop("bytes"))


def make_job(input_dir: str, out_root: str, max_files_per_trigger: int):
    from dataflow_flex_templates_spark.streaming.spec_stream import (
        SpecStreamJob,
    )
    from dataflow_flex_templates_spark.testing.clips import (
        clips_spark_schema,
    )

    return SpecStreamJob(
        parse_spec(), input_dir=input_dir,
        input_schema=clips_spark_schema(),
        output_dir=os.path.join(out_root, "out"),
        checkpoint_dir=os.path.join(out_root, "ckpt"),
        watermark=WATERMARK, max_files_per_trigger=max_files_per_trigger,
        prepare_fn=prepare, prepare_preserves="*")


# -------------------------------------------------------------- fixtures

def write_clip_files(spark, out_dir: str, n_clips: int, n_files: int,
                     seed: int) -> list[str]:
    """Generate ``n_clips`` seeded clips into ``n_files`` parquet files
    (one contiguous, chronological id range each) and give the files
    strictly increasing mtimes in id order, so the file source reads
    them in event-time order and the watermark never drops a row.
    Returns the file paths in that order."""
    from dataflow_flex_templates_spark.testing.clips import (
        generate_clips_distributed,
    )

    generate_clips_distributed(
        spark, n_clips, seed=seed, late_rate=0.0, max_dur_ms=MAX_DUR_MS,
        num_partitions=n_files).write.parquet(out_dir)
    files = sorted(os.path.join(out_dir, f) for f in os.listdir(out_dir)
                   if f.startswith("part-") and f.endswith(".parquet"))
    base = os.stat(files[0]).st_mtime - len(files)
    for i, p in enumerate(files):
        os.utime(p, (base + i, base + i))
    return files


# ---------------------------------------------------------------- oracle

class ClipOracle:
    """Expected outputs for one input directory: row digests of the
    batch engine's ``Clip`` and ``ENCODED_AS`` over the same prepare
    step, and the DuckDB GROUP BY that ``CodecWindow`` must equal."""

    def __init__(self, spark, input_dir: str):
        from dataflow_flex_templates_spark.graph.build import run_job
        from dataflow_flex_templates_spark.streaming.spec_stream import (
            event_time_ordinal,
        )
        from dataflow_flex_templates_spark.testing.clips import (
            clips_spark_schema,
        )

        raw = spark.read.schema(clips_spark_schema()).parquet(input_dir)
        spec = parse_spec()
        spec.targets = [t for t in spec.targets if t.transform.window is None]
        res = run_job(spark, spec, source_frames={
            "clips": prepare(event_time_ordinal(raw, "event_time"))})
        self.digests = {
            "Clip": row_digest(res.target_frames["Clip"], CLIP_COLS),
            "ENCODED_AS": row_digest(res.target_frames["ENCODED_AS"],
                                     EDGE_COLS),
        }
        self.windows = _duckdb_windows(input_dir)

    def check(self, spark, job) -> list[str]:
        """Read every merged target once (the consumer's full scan) and
        return the list of mismatches (empty when correct)."""
        bad = []
        got = {
            "Clip": row_digest(job.read_merged(spark, "Clip"), CLIP_COLS),
            "ENCODED_AS": row_digest(job.read_merged(spark, "ENCODED_AS"),
                                     EDGE_COLS),
        }
        for name, want in self.digests.items():
            if got[name] != want:
                bad.append(f"{name}: digest {got[name]} != {want}")
        win = _spark_windows(job.read_merged(spark, "CodecWindow"))
        if win != self.windows:
            extra = sorted(set(win.items()) ^ set(self.windows.items()))[:3]
            bad.append(f"CodecWindow: {len(win)} vs {len(self.windows)} "
                       f"groups, differing {extra}")
        return bad


def _duckdb_windows(input_dir: str) -> dict:
    import duckdb

    con = duckdb.connect()
    try:
        rows = con.execute(
            f"SELECT floor(epoch_ms(event_time) / {WINDOW_S * 1000})::BIGINT"
            " AS w, codec, count(*) AS n, sum(dur_ms) AS ms"
            f" FROM read_parquet('{input_dir}/*.parquet') GROUP BY 1, 2"
        ).fetchall()
    finally:
        con.close()
    return {(int(w), c): (int(n), int(ms)) for w, c, n, ms in rows}


def _spark_windows(df) -> dict:
    from pyspark.sql import functions as F

    rows = df.select(
        (F.unix_millis("window_start") / (WINDOW_S * 1000)).cast("long")
        .alias("w"), "codec", "n_clips", "total_ms").collect()
    return {(int(r["w"]), r["codec"]): (int(r["n_clips"]), int(r["total_ms"]))
            for r in rows}
