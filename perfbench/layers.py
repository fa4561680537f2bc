"""Layer probes for traced runs.

A traced run reports every per-layer metric for every workload. Besides
the workload's own steps, it runs this sweep, which calls each layer
once on inputs derived from the same workload's data (see each
workload's ``probe_frames``): its transcripts, an Iceberg table holding
them, and ``(doc_id, text)`` documents.

The checkpoint probe is the production job shape (jobs/run_extraction.py):
Iceberg read, a full 16-bucket run, a run killed after 8 bucket commits,
and its resume. Its outputs are checked like a workload's.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass

from pyspark.sql import functions as F

from htrtf_spark.session import ARROW_MAX_RECORDS
from workloads import EXTRACTED_COLS, Step, digest

_COLS = ["conv_id", "turn_idx", "role", "text"]
_APPEND_SLICES = 8  # the incremental probe appends 1/8 of the transcripts
CKPT_BUCKETS = 16
CKPT_KILL_AFTER = 8


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


@dataclass
class ProbeInputs:
    transcripts: object
    iceberg: str
    iceberg_bytes: int
    documents: object
    extract_digest: object
    inc_src: str
    inc_dst: str


def _slice(df, appended: bool):
    s = F.pmod(F.xxhash64("conv_id"), F.lit(_APPEND_SLICES)) == 0
    return df.filter(s if appended else ~s)


def prepare(wl, d: str) -> ProbeInputs:
    """Build the probe inputs under ``d`` (untimed)."""
    from htrtf_spark.plans.incremental import extract_increment_once
    from htrtf_spark.plans.pipeline import extract_turns
    from htrtf_spark.sources.iceberg import write_iceberg_table

    transcripts, docs = wl.probe_frames(d)
    ice = os.path.join(d, "iceberg")
    write_iceberg_table(transcripts, ice)
    inp = ProbeInputs(
        transcripts,
        ice,
        dir_bytes(os.path.join(ice, "data")),
        docs,
        digest(extract_turns(transcripts), EXTRACTED_COLS)[0],
        os.path.join(d, "inc_source"),
        os.path.join(d, "inc_extracted"),
    )
    # the incremental probe's source starts with 7/8 of the transcripts
    # and its destination with their extraction; each sweep appends the
    # remaining 1/8 and runs one tick over it
    write_iceberg_table(_slice(transcripts, False), inp.inc_src)
    extract_increment_once(wl.spark, inp.inc_src, inp.inc_dst)
    return inp


def _identity(batches):
    yield from batches


def sweep(wl, inp: ProbeInputs, tr, d: str, st: Step) -> dict:
    """One call per layer; returns {metric: value} and records the
    probe's checks in ``st``."""
    from htrtf_spark.operators.dedup import release_caches
    from htrtf_spark.operators.extraction import extract_pandas
    from htrtf_spark.operators.substr_dedup import repeated_substring_spans
    from htrtf_spark.plans.ordering import with_turn_rank
    from htrtf_spark.plans.pipeline import conversation_documents, extract_turns

    out: dict = {}
    cols = inp.transcripts.select(*_COLS)

    with tr.span("sources.transcripts.scan") as sp:
        noop(cols)
    out["sources.transcripts.scan_s"] = sp.duration
    with tr.span("operators.extraction.identity") as sp:
        noop(cols.mapInPandas(_identity, schema=cols.schema))
    out["operators.extraction.boundary_s"] = sp.duration - out["sources.transcripts.scan_s"]

    pdf = cols.toPandas()
    t0 = time.perf_counter()
    for lo in range(0, len(pdf), ARROW_MAX_RECORDS):
        extract_pandas(pdf.iloc[lo : lo + ARROW_MAX_RECORDS])
    out["operators.extraction.kernel_rows_per_s"] = len(pdf) / (time.perf_counter() - t0)

    with tr.span("operators.extraction.stage") as sp:
        noop(extract_turns(inp.transcripts))
    out["operators.extraction.stage_s"] = sp.duration

    ext = extract_turns(inp.transcripts).persist()
    ext.count()
    with tr.span("plans.ordering.turn_rank") as sp:
        noop(with_turn_rank(ext))
    out["plans.ordering.turn_rank_s"] = sp.duration
    with tr.span("plans.pipeline.documents") as sp:
        noop(conversation_documents(ext))
    out["plans.pipeline.documents_s"] = sp.duration
    ext.unpersist()

    with tr.span("operators.substr_dedup.spans") as sp:
        noop(repeated_substring_spans(inp.documents, "doc_id", "text"))
    out["operators.substr_dedup.spans_s"] = sp.duration
    release_caches()

    out.update(_incremental_probe(wl.spark, inp, tr, st))
    out.update(_checkpoint_probe(wl.spark, inp, tr, st, os.path.join(d, "ckpt")))
    return out


def _incremental_probe(spark, inp: ProbeInputs, tr, st: Step) -> dict:
    from htrtf_spark.plans.incremental import extract_increment_once
    from htrtf_spark.sources.iceberg import append_iceberg_table

    mdir = os.path.join(inp.inc_src, "metadata")
    before = set(os.listdir(mdir))
    batch = _slice(inp.transcripts, True)
    with tr.span("sources.iceberg.append") as sp:
        append_iceberg_table(batch, inp.inc_src)
    append_s = sp.duration
    new = [f for f in os.listdir(mdir) if f not in before]
    meta_bytes = sum(os.path.getsize(os.path.join(mdir, f)) for f in new)
    commits = sum(1 for f in new if f.endswith(".metadata.json"))
    with tr.span("plans.incremental.tick") as sp:
        res = extract_increment_once(spark, inp.inc_src, inp.inc_dst)
    st.calls += 2
    st.check("probe.tick.rows", res["rows"] == batch.count())
    return {
        "sources.iceberg.append_s": append_s,
        "sources.iceberg.metadata_bytes_per_commit": meta_bytes / max(commits, 1),
        "plans.incremental.tick_s": sp.duration,
        "plans.incremental.rows_per_tick": res["rows"],
    }


def _checkpoint_probe(spark, inp: ProbeInputs, tr, st: Step, d: str) -> dict:
    from htrtf_spark.plans.checkpoint import (
        KilledForTest,
        read_manifest,
        read_output,
        run_extraction_checkpointed,
    )
    from htrtf_spark.sources.transcripts import read_transcripts_iceberg

    full, killed = os.path.join(d, "full"), os.path.join(d, "killed")
    plan = []

    def read():
        with tr.span("sources.iceberg.plan", "build") as sp:
            df = read_transcripts_iceberg(spark, inp.iceberg)
        plan.append(sp.duration)
        return df

    st.calls += 3
    with tr.span("plans.checkpoint.job") as sp:
        ran = run_extraction_checkpointed(spark, read(), full, n_buckets=CKPT_BUCKETS)
    job_s = sp.duration
    try:
        run_extraction_checkpointed(
            spark, read(), killed, n_buckets=CKPT_BUCKETS, fail_after_buckets=CKPT_KILL_AFTER
        )
        st.check("probe.checkpoint.killed", False)
    except KilledForTest:
        pass
    with tr.span("plans.checkpoint.resume") as sp:
        resumed = run_extraction_checkpointed(spark, read(), killed, n_buckets=CKPT_BUCKETS)
    resume_s = sp.duration

    # the resumed output equals the uninterrupted one, which equals a
    # plain extraction, and each manifest has every bucket exactly once
    st.check("probe.checkpoint.ran", ran == list(range(CKPT_BUCKETS)))
    st.check("probe.checkpoint.resumed", len(resumed) == CKPT_BUCKETS - CKPT_KILL_AFTER)
    dg_full = digest(read_output(spark, full).select(*EXTRACTED_COLS), EXTRACTED_COLS)[0]
    dg_res = digest(read_output(spark, killed).select(*EXTRACTED_COLS), EXTRACTED_COLS)[0]
    st.check("probe.checkpoint.digest", dg_full == inp.extract_digest)
    st.check("probe.checkpoint.resume_equal", dg_res == dg_full)
    manifests = {}
    for tag, out_dir in (("full", full), ("killed", killed)):
        rows = read_manifest(spark, out_dir).collect()
        manifests[tag] = rows
        st.check(
            f"probe.checkpoint.{tag}.buckets",
            sorted(r["bucket"] for r in rows) == list(range(CKPT_BUCKETS)),
        )
        st.check(
            f"probe.checkpoint.{tag}.rows",
            sum(r["rows_in"] for r in rows) == inp.extract_digest.rows,
        )
    pass_s = sum(r["wall_ms"] for r in manifests["full"]) / 1000.0
    res_rows = sum(r["rows_in"] for r in manifests["killed"] if r["bucket"] in set(resumed))
    out = {
        "sources.iceberg.plan_s": statistics.median(plan),
        "plans.checkpoint.pass_s": pass_s,
        "plans.checkpoint.commit_s": job_s - pass_s,
        "plans.checkpoint.resume_s": resume_s,
        "plans.checkpoint.resume_rows_ratio": res_rows / inp.extract_digest.rows,
        "io.bytes_written_per_input_byte": dir_bytes(full) / inp.iceberg_bytes,
    }
    shutil.rmtree(d)
    return out
