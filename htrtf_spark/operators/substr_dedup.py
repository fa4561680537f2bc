"""Exact repeated-substring deduplication (the suffix-array family of
Lee et al. 2022, "Deduplicating Training Data Makes Language Models
Better") over any (id, text) DataFrame.

Semantics: a character is *duplicated* when it lies inside at least one
length-``min_len`` window that occurs >= 2 times across the corpus (in
another document, or at another position of the same document); maximal
runs of duplicated characters form the spans — the union of the hit
windows' coverage, so spans are disjoint by construction. This is the
character set a suffix array surfaces with match length >= ``min_len``
(Lee et al. remove exactly these regions) — re-expressed Spark-first as
a fixed-window fingerprint shuffle instead of a monolithic suffix sort:

1. every document emits its length-L character windows (pos, gram),
   generated in bounded CHUNKS so no per-row array scales with whole-
   document length (a 100 MB whale yields ~1.5k outer chunk rows, each
   owning <= ``DEFAULT_CHUNK_CHARS`` positions — never one 10^8-element
   array);
2. phase 1 counts occurrences per 8-byte xxhash64 gram fingerprint with
   ONE map-side-combined groupBy (16 bytes/row shuffled, not the wide
   (id, pos, gram) row; a fingerprint repeated 10^9 times partially
   aggregates to ~one row per task — no per-key buffering, no
   straggler), then joins the repeated classes back onto the window
   table (broadcast when the class set is small — the common corpus —
   leaving the window table unshuffled). The surviving candidate
   windows (a few % of positions in the common corpus) take ONE exact
   check over the real gram: map-side-combined gram counts, joined
   back. A same-hash different-gram collision is dropped there; false
   negatives are impossible (equal grams hash equal). Neither phase
   buffers a per-key occurrence set — both are partial aggregations —
   so a boilerplate gram repeated 10^6-10^9 times costs what a rare one
   does and needs no special route (pytest-asserted on an adversarial
   10^5-occurrence gram);
3. per document, hit windows whose [pos, pos+L) intervals overlap or
   touch merge into MAXIMAL DISJOINT spans (interval merge: a new span
   starts when pos - previous_pos > L — plain gaps-and-islands on
   consecutive positions would emit OVERLAPPING spans whenever hit
   positions skip fewer than L characters, e.g. hits at 0 and 2).

At 100 TB: windows are O(total chars) rows but the plan is narrow map
stages + map-side-combined aggregations + AQE-sized shuffles — no
driver state, no per-executor corpus residency, no suffix array that
must fit one machine, no window keyed on a gram. The only window is the
per-document span merge, bounded by the largest document's hit count.

Policy note: ``strip_repeated_spans`` removes EVERY duplicated span,
including the "first" occurrence — a keep-one-copy variant is
deliberately not offered at span level because spans are merged UNIONS
of many overlapping window hits with different duplication partners:
no single occurrence is canonical, and Lee et al.'s own release
removes all occurrences the same way. For keep-first semantics use the
coarser granularities (exact_duplicates / strip_duplicated_lines),
where occurrences are well-defined.

Reference analog: the reference has no substring dedup; this fills the
corpus-hygiene tier between exact-document (operators/dedup.py:170) and
near-duplicate (operators/dedup.py:306) dedup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_MIN_LEN = 50

# Window-generation chunk: one outer row owns at most this many window
# positions, so the largest per-row array is this many ints (~512 KB)
# and the largest carried substring is this + L - 1 chars — both
# constants, regardless of document size. Outer chunk count is doc_len
# divided by this (a 100 MB whale -> ~1.5k rows), so neither level of
# the two-level generate scales a per-row allocation with the whale.
DEFAULT_CHUNK_CHARS = 65536

# Repeated-class sets up to this many rows are broadcast for the
# phase-2 reattach join, keeping the wide window table entirely
# unshuffled (plan-time broadcast — AQE's runtime SMJ→BHJ conversion
# would have materialized the wide shuffle first). Past the bound the
# reattach degrades to a shuffle join (skew-split by AQE) — the same
# bytes the single-phase plan would have moved. Sizing counts the
# BUILT relation, not the raw payload: a BroadcastHashJoin build runs
# ~50-70 B/row over the 16 B (hash, count) class, so 2M classes is a
# ~100-150 MB build per executor — heavy but workable.
DUP_CLASS_BROADCAST_MAX = 2_000_000


def _windows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    L: int,
    chunk: int = DEFAULT_CHUNK_CHARS,
) -> DataFrame:
    """(id, pos, g): every length-L character window of every document
    long enough to hold one. Narrow (no shuffle); generated JVM-side in
    two bounded explodes:

    - outer: chunk start offsets 0, C, 2C, ... <= len-L — an array of
      O(doc_len / C) longs (a 100 MB doc at C=64Ki -> ~1.5k elements);
    - inner: positions within one chunk — at most C ints, over a
      carried chunk substring of C + L - 1 chars.

    No generated array or carried string scales with WHOLE-document
    length (a single F.sequence(0, len-L) would put ~10^8 longs of one
    whale into one Generate row — exactly the per-task residency this
    module promises not to have)."""
    return (
        df.where(F.length(text_col) >= L)
        .select(
            F.col(id_col).alias("id"),
            F.col(text_col).alias("_t"),
            F.explode(
                F.sequence(
                    F.lit(0), F.length(text_col) - L, F.lit(int(chunk))
                )
            ).alias("_c0"),
        )
        .select(
            "id",
            "_c0",
            F.least(
                F.lit(int(chunk) - 1), F.length("_t") - L - F.col("_c0")
            ).alias("_hi"),
            F.expr(f"substring(_t, _c0 + 1, {int(chunk) + L - 1})").alias(
                "_ct"
            ),
        )
        .select(
            "id",
            "_c0",
            "_ct",
            F.explode(F.sequence(F.lit(0), F.col("_hi"))).alias("_p"),
        )
        .select(
            "id",
            (F.col("_c0") + F.col("_p")).alias("pos"),
            F.expr(f"substring(_ct, _p + 1, {L})").alias("g"),
        )
    )


def _exact_hits(rows: DataFrame) -> DataFrame:
    """Exact >= 2 check over the real gram WITHOUT a window:
    map-side-combined gram counts, joined back. Drops the windows whose
    fingerprint class repeated only through a hash collision. An inner
    join on the unique repeated grams, not a left-semi join: the
    optimizer pushes a semi join below the fingerprint join that
    produced ``rows``, which would shuffle EVERY window by gram instead
    of only the candidates. No broadcast hint: the repeated vocabulary
    can be large, and the shuffle join AQE falls back to is the safe
    shape."""
    gcounts = (
        rows.groupBy("g")
        .agg(F.count(F.lit(1)).alias("_gn"))
        .filter(F.col("_gn") >= 2)
        .select("g")
    )
    return rows.join(gcounts, "g").select("id", "pos")


def repeated_substring_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = DEFAULT_MIN_LEN,
) -> DataFrame:
    """Maximal duplicated character spans, as
    (id, span_start, span_end, span_len) with [span_start, span_end)
    0-based character offsets into the document text. See module
    docstring for semantics and the scale shape.

    NOT fully lazy: building the result runs phase 1 eagerly — the
    class-count job both populates the persisted class set and decides
    the reattach regime at plan time. The persisted set is registered
    with ``operators.dedup.release_caches()``; sessions running many
    dedup jobs should release between runs."""
    L = int(min_len)
    if L < 1:
        raise ValueError(f"min_len must be >= 1, got {min_len}")
    from htrtf_spark.operators.dedup import _register_cache
    from htrtf_spark.plans.ordering import fan_out

    # single-split inputs would serialize the window generation (the
    # most CPU-dense narrow stage in the library) onto one core; at
    # warehouse scale the scan is already parallel and this is a no-op
    docs = fan_out(df, id_col)
    grams = _windows(docs, id_col, text_col, L)

    # phase 1: exact per-fingerprint counts via a map-side-combined
    # groupBy over ONLY the 8-byte hash (16 bytes/row shuffled)
    counts = (
        grams.select(F.xxhash64("g").alias("_h"))
        .groupBy("_h")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= 2)
    )
    # reattach: candidate windows are the rows whose fingerprint class
    # repeats. The class set is cached and counted ONCE to pick the
    # regime at plan time: broadcast (the common corpus, leaving the
    # wide window table unshuffled) or, past the bound, a shuffle join
    # on _h that AQE skew-splits. Relying on AQE's runtime SMJ→BHJ
    # conversion instead would materialize the wide shuffle before
    # converting — the exact cost this phase exists to avoid.
    dup = _register_cache(counts.persist())
    small = dup.count() <= DUP_CLASS_BROADCAST_MAX
    cand = grams.withColumn("_h", F.xxhash64("g")).join(
        F.broadcast(dup) if small else dup, "_h"
    )
    hits = _exact_hits(cand.drop("_h", "_n"))

    # interval merge, not consecutive-position islands: hit intervals
    # [pos, pos+L) overlap-or-touch exactly when the position gap is
    # <= L, so a new span starts on a gap > L — output spans are
    # maximal AND disjoint (the invariant strip_repeated_spans relies
    # on; consecutive-position grouping broke it for near-offset hits)
    run = Window.partitionBy("id").orderBy("pos")
    runf = run.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    new_span = (
        F.lag("pos").over(run).isNull()
        | (F.col("pos") - F.lag("pos").over(run) > F.lit(L))
    )
    return (
        hits.withColumn("grp", F.sum(new_span.cast("long")).over(runf))
        .groupBy("id", "grp")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(L)).alias("span_end"),
        )
        .select(
            "id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start")).alias("span_len"),
        )
    )


def strip_repeated_spans(
    df: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Apply-side: cut every duplicated span out of the text (the
    drop-duplicated-regions policy; documents without spans pass through
    unchanged). Returns the input columns with ``text_col`` replaced by
    the kept text plus ``removed_chars``.

    Spans per document are collected into one sorted array (spans are
    maximal, hence disjoint) and the kept text is rebuilt with a single
    JVM-side ``aggregate`` over the gaps — no UDF, no per-row Python.
    Per-task memory is bounded by the largest single document, exactly
    like conversation assembly (plans/pipeline.py)."""
    sp = (
        spans.groupBy(F.col("id").alias(id_col))
        .agg(
            F.array_sort(
                F.collect_list(F.struct("span_start", "span_end"))
            ).alias("_spans")
        )
    )
    joined = df.join(sp, on=id_col, how="left")
    kept = F.expr(
        f"""CASE WHEN _spans IS NULL THEN {text_col} ELSE
        aggregate(
          _spans,
          struct(0 AS cur, '' AS acc),
          (s, x) -> struct(
            x.span_end AS cur,
            concat(s.acc,
                   substring({text_col}, s.cur + 1, x.span_start - s.cur))
              AS acc),
          s -> concat(s.acc, substring({text_col}, s.cur + 1,
                                       length({text_col}) - s.cur)))
        END"""
    )
    out_cols = [
        kept.alias(text_col) if c == text_col else F.col(c)
        for c in df.columns
    ]
    return joined.select(
        *out_cols,
        (F.length(text_col) - F.length(kept)).alias("removed_chars"),
    )
