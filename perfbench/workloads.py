"""The benchmark workloads, their seeded inputs and their output checks.

Every workload has the same life cycle:

* ``setup(d)`` writes the inputs under the fresh directory ``d`` and takes
  the oracle's expected results the checks compare against (this is what
  ``setup_s`` times);
* ``step(tr)`` is one whole workload run: the timed calls into the
  library, each inside a tracer span, followed by untimed output checks.
  It returns a ``Step`` with the samples it measured and the checks it
  made;
* ``probe_frames(d)`` derives the inputs of the traced runs' layer sweep
  (``layers.py``) from the workload's data.

Why these workloads: see README.md in this directory.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from htrtf_spark import oracle, synth

EXTRACTED_COLS = [
    "conv_id",
    "turn_idx",
    "role",
    "mode",
    "extracted_text",
    "n_chars",
    "reject_reason",
]

# Input sizes. Each makes one step take a few seconds at 4 cores, so a
# measured window holds several steps.
BULK_CONVS = 1_500  # ~28k turns, 15 whales of 600-1200 turns
CORPUS_DOCS = 1_000
GEN_PARTITIONS = 16  # input files per generated table (4 per core)
SAMPLE_CONVS = 15  # non-whale conversations checked against the oracle


# ------------------------------------------------------------------ helpers
@dataclass(frozen=True)
class Digest:
    """Order-independent digest of a frame: row count and two sums of
    independent 64- and 32-bit row hashes."""

    rows: int
    h64: int
    h32: int


def digest(df, cols, sample_ids=()):
    """One aggregation pass: the digest of ``df[cols]`` plus the rows of
    the conversations in ``sample_ids`` (sorted by conv_id, turn_idx)."""
    aggs = [
        F.count(F.lit(1)),
        # >> 24 keeps 400k summed 40-bit values inside a long (ANSI mode
        # raises on overflow)
        F.sum(F.shiftright(F.xxhash64(*cols), 24)),
        F.sum(F.hash(*cols).cast("long")),
    ]
    if sample_ids:
        aggs.append(
            F.collect_list(
                F.when(F.col("conv_id").isin(list(sample_ids)), F.struct(*cols))
            )
        )
    row = df.agg(*aggs).first()
    d = Digest(int(row[0]), int(row[1] or 0), int(row[2] or 0))
    rows = sorted((tuple(r) for r in row[3]), key=lambda r: (r[0], r[1])) if sample_ids else []
    return d, rows


def rng(seed: int, salt: int) -> np.random.RandomState:
    """The benchmark's own generator for ``seed``. Any integer is a valid
    seed (``RandomState`` alone takes only 0 <= seed < 2**32)."""
    state = np.random.SeedSequence([abs(seed), int(seed < 0), salt]).generate_state(1)
    return np.random.RandomState(state)


def sample_conversations(seed: int, lo: int, hi: int) -> list[int]:
    """Seeded conversation ids in [lo, hi): SAMPLE_CONVS ordinary ones
    and one whale."""
    rs = rng(seed, 99)
    whales = [k for k in range(lo, hi) if synth.is_whale(k)]
    plain = [k for k in range(lo, hi) if not synth.is_whale(k)]
    picked = list(rs.choice(plain, SAMPLE_CONVS, replace=False))
    picked.append(whales[rs.randint(len(whales))])
    return sorted(int(k) for k in picked)


def conv_frame(ks, seed: int) -> pd.DataFrame:
    return pd.concat([synth.conv_pandas(k, seed) for k in ks], ignore_index=True)


def _none(v):
    return None if v is None or v is pd.NA else v


class OracleSample:
    """Expected outputs, from the row-at-a-time reference ``oracle``, for
    a few whole conversations."""

    def __init__(self, ks, seed: int):
        src = conv_frame(ks, seed)
        ex = oracle.extract_frame(src)
        self.conv_ids = sorted(set(ex["conv_id"]))
        self.rows = sorted(
            (tuple(_none(v) for v in r) for r in ex[EXTRACTED_COLS].itertuples(index=False)),
            key=lambda r: (r[0], r[1]),
        )
        # synthetic turn_idx is unique per conversation, so the stable
        # rank is turn_idx + 1
        self.ranked = [r + (r[1] + 1,) for r in self.rows]
        docs = []
        for cid, grp in ex.sort_values("turn_idx").groupby("conv_id"):
            texts = [t for t in grp["extracted_text"] if t is not None]
            docs.append((cid, " ".join(texts) if texts else None, len(grp)))
        self.documents = sorted(docs)


@dataclass
class Step:
    """One workload run: timed samples and checks; ``run.py`` fills in
    the tracer's run id, the step's time and, in traced runs, its Spark
    counters."""

    samples: dict = field(default_factory=dict)
    checks: list = field(default_factory=list)
    calls: int = 0
    rows: int = 0
    run_id: int = 0
    wall: float = 0.0
    counters: dict = field(default_factory=dict)

    def check(self, name: str, ok: bool) -> None:
        self.checks.append((name, bool(ok)))

    @property
    def ok(self) -> bool:
        return all(ok for _n, ok in self.checks)


def timed(tr, step: Step, name: str, sample: str, build, action=None):
    """One timed library call, recorded as ``step.samples[sample]``:
    ``build`` returns a DataFrame (or does the whole call when ``action``
    is None) and ``action`` consumes it. The call is one span with a
    build child and an action child."""
    step.calls += 1
    with tr.span(name) as sp:
        if action is None:
            out = build()
        else:
            with tr.span(name + ".build", "build"):
                df = build()
            with tr.span(name + ".action"):
                out = action(df)
    step.samples[sample] = sp.duration
    return out


# ---------------------------------------------------------------- workloads
class Workload:
    name = ""
    # the sample that turns_per_s divides the step's rows by
    main_call = ""
    # untimed (but checked) steps before the measured window: the JVM
    # compiles a plan's code paths during its first runs, and step times
    # keep falling until it is done
    warm_steps = 0

    def __init__(self, spark, seed: int):
        self.spark = spark
        self.seed = seed


class BulkExtract(Workload):
    name = "bulk_extract"
    main_call = "extract_s"
    warm_steps = 2

    def setup(self, d: str) -> None:
        from htrtf_spark.sources.transcripts import read_transcripts_parquet

        path = os.path.join(d, "transcripts")
        synth.synth_spark(
            self.spark, n_convs=BULK_CONVS, seed=self.seed, partitions=GEN_PARTITIONS
        ).write.parquet(path)
        self.src = read_transcripts_parquet(self.spark, path)
        self.rows_in = self.src.count()
        self.oracle = OracleSample(
            sample_conversations(self.seed, 0, BULK_CONVS), self.seed
        )
        # the first (warm-up) step takes the reference digests
        self.ref = {}

    def probe_frames(self, d: str):
        """Transcripts and (doc_id, text) documents for the layer sweep:
        this workload's transcripts, and their conversation documents
        capped at 600 characters (the sf0.1 document length)."""
        from htrtf_spark.plans.pipeline import conversation_documents, extract_turns

        path = os.path.join(d, "documents")
        conversation_documents(extract_turns(self.src), max_doc_chars=600).select(
            F.split_part("conv_id", F.lit("-"), F.lit(2)).cast("long").alias("doc_id"),
            F.col("doc_text").alias("text"),
        ).where(F.col("text").isNotNull()).write.parquet(path)
        return self.src, self.spark.read.parquet(path)

    def _calls(self):
        from htrtf_spark.plans.pipeline import (
            conversation_documents,
            extract_turns,
            ordered_extract,
        )

        return [
            ("extract_turns", lambda: extract_turns(self.src), EXTRACTED_COLS),
            ("ordered_extract", lambda: ordered_extract(self.src), EXTRACTED_COLS + ["rn"]),
            (
                "conversation_documents",
                lambda: conversation_documents(extract_turns(self.src)),
                ["conv_id", "doc_text", "n_turns"],
            ),
        ]

    def step(self, tr) -> Step:
        st = Step(rows=self.rows_in)
        expect = {
            "extract_turns": self.oracle.rows,
            "ordered_extract": self.oracle.ranked,
            "conversation_documents": self.oracle.documents,
        }
        for name, build, cols in self._calls():
            dg, rows = timed(
                tr, st, name, name + "_s", build,
                lambda df, c=cols: digest(df, c, self.oracle.conv_ids),
            )
            want_rows = BULK_CONVS if name == "conversation_documents" else self.rows_in
            st.check(f"{name}.rows", dg.rows == want_rows)
            st.check(f"{name}.digest", dg == self.ref.setdefault(name, dg))
            st.check(f"{name}.oracle", rows == expect[name])
        st.samples["extract_s"] = st.samples.pop("extract_turns_s")
        st.samples["documents_s"] = st.samples.pop("ordered_extract_s") + st.samples.pop(
            "conversation_documents_s"
        )
        return st


# ------------------------------------------------------------ corpus dedup
_VOCAB = (
    "the a of and to in is it for on with as at by from spark batch part "
    "line column order small sort fast value scan hash slow group agg "
    "filter query big key window row table stream merge data join vector "
    "customer partition shuffle plan cache index"
).split()

_BOILERPLATE = [
    "all rights reserved reproduction of this page without permission is prohibited",
    "subscribe to our newsletter for weekly updates on spark tuning and data engineering",
    "this article was generated from the community knowledge base and reviewed by editors",
    "click here to accept cookies and continue browsing the documentation portal",
    "terms of service apply to every query submitted through the public endpoint",
    "posted in the data engineering forum under the shuffle and partition tuning topic",
]


def make_documents(n_docs: int, seed: int) -> pd.DataFrame:
    """Seeded (doc_id, text) table shaped like the sf0.1 ``documents``
    fixture: 44-577 characters of vocabulary words, plus shared
    boilerplate sentences (substring-strip work), exact duplicates
    (dedup work) and a little out-of-charset noise (extraction work).
    Plain text only: the q101 oracle SQL restates the canonical clean,
    not the markup and stream decoders."""
    rs = rng(seed, 3)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rs.rand() < 0.05:
            texts.append(texts[rs.randint(0, i)])  # exact duplicate
            continue
        words = [_VOCAB[j] for j in rs.randint(0, len(_VOCAB), rs.randint(8, 90))]
        if rs.rand() < 0.2:
            pos = rs.randint(0, len(words) + 1)
            words.insert(pos, _BOILERPLATE[rs.randint(len(_BOILERPLATE))])
        if rs.rand() < 0.05:
            words.insert(rs.randint(0, len(words) + 1), ["é", "™", "#", "~"][rs.randint(4)])
        text = " ".join(words)
        while len(text) > 577:
            text = text[: text.rfind(" ")]
        if len(text) < 44:
            text = (text + " " + " ".join(_VOCAB[:10]))[:60].strip()
        texts.append(text)
    return pd.DataFrame({"doc_id": np.arange(n_docs, dtype=np.int64), "text": texts})


def _norm_rows(rows, cols):
    return sorted(tuple(int(r[c]) if c != "fp" else str(r[c]) for c in cols) for r in rows)


class CorpusDedup(Workload):
    name = "corpus_dedup"
    main_call = "corpus_s"
    warm_steps = 4
    COLS = ("doc_id", "n_tokens", "stop_ratio_bp", "removed_chars", "fp")

    def setup(self, d: str) -> None:
        import duckdb

        from htrtf_spark.queries import oracle_sqls

        pdf = make_documents(CORPUS_DOCS, self.seed)
        self.path = os.path.join(d, "documents.parquet")
        pdf.to_parquet(self.path, index=False)
        con = duckdb.connect()
        try:
            con.register("documents", pdf)
            res = con.execute(oracle_sqls()["q101_training_corpus_stripped"])
            names = [c[0] for c in res.description]
            self.ref = _norm_rows(
                (dict(zip(names, r)) for r in res.fetchall()), self.COLS
            )
        finally:
            con.close()
        self.rows_in = len(pdf)

    def probe_frames(self, d: str):
        """Transcripts and documents for the layer sweep: the documents
        as one-turn conversations (the shape the corpus chain's
        extraction stage sees), and the documents themselves."""
        from htrtf_spark.sources.transcripts import read_transcripts_parquet

        docs = self.spark.read.parquet(self.path)
        path = os.path.join(d, "transcripts")
        docs.select(
            F.concat(F.lit("doc-"), F.lpad(F.col("doc_id").cast("string"), 8, "0")).alias(
                "conv_id"
            ),
            F.lit(0).alias("turn_idx"),
            F.lit("user").alias("role"),
            "text",
            F.lit(None).cast("string").alias("tool"),
            F.lit("2025-01-01 00:00:00").cast("timestamp").alias("ts"),
        ).write.parquet(path)
        return read_transcripts_parquet(self.spark, path), docs

    def step(self, tr) -> Step:
        from htrtf_spark.operators.dedup import release_caches
        from htrtf_spark.queries.training_pipeline import training_corpus_stripped

        st = Step(rows=self.rows_in)

        def run(df):
            rows = df.collect()
            release_caches()
            return rows

        rows = timed(
            tr, st, "corpus", "corpus_s",
            lambda: training_corpus_stripped(self.spark.read.parquet(self.path)),
            run,
        )
        st.check("corpus.oracle", _norm_rows((r.asDict() for r in rows), self.COLS) == self.ref)
        return st


WORKLOADS = {w.name: w for w in (BulkExtract, CorpusDedup)}
