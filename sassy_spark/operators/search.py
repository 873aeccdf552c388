"""The `search` operator family — sassy's public semantics on DataFrames.

Reference parity (RagnarGrootKoerkamp/sassy):
  * ``search``            — Searcher::search / search_all / only_best_match
    (src/search.rs:510-525, 685-700, 442-445) as a DataFrame operator:
    patterns x texts -> match rows. ``mode='all_alignments'`` is
    search_all_alignments (src/search.rs:708-754): one row per distinct
    cost-minimal alignment per end position (explode shape).
  * output schema         — the reference's TSV contract (README.md:211-239,
    bin/grep.rs:710-738): pat_id, text_id, cost, strand, start, end,
    match_region, cigar. Offsets are CHARACTER offsets (end-exclusive,
    README.md:232-234) — correct for non-ASCII text.
  * ``end_filter``        — search_with_fn (src/search.rs:767-784): a user
    predicate on (pattern, text-prefix-up-to-end, strand) evaluated BEFORE
    traceback, the PAM-filter hook (bin/crispr.rs:198-221). Cheap
    predicates skip the expensive per-match traceback entirely.
  * ``alpha``/``max_overhang`` — overhang scoring (src/search.rs:231-248):
    pattern may hang over text ends at cost floor(alpha * overhang).
  * ``filter_matching``   — the `filter` subcommand (bin/grep.rs:589-622):
    emit records with >= 1 match; --invert = anti join.

Physical design (Spark-first, NOT a port): the pattern set is small
(like sassy's -p/-l/-f pattern sources) so it is *broadcast* to every
task; texts stream through ``mapInPandas`` in Arrow batches and the
numpy kernel advances all (pattern x text) lanes of a batch at once —
one scan of the text corpus total, no pattern x text shuffle. This is
the same shape as sassy v2's "one text pass, patterns in SIMD lanes"
(src/pattern_tiling/search.rs:326-445), realized with Spark's broadcast +
batch vectorization instead of AVX lanes. Case-insensitive search lowers
the text JVM-side (Catalyst ``lower()`` before the Arrow transfer — also
shrinks the payload) and the patterns once on the driver. Lanes are
chunked (``SEARCH_LANES`` = 4096) after length-sorting the batch,
bounding worker memory at O(lanes x band) regardless of document
length or pattern count.
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernel import myers

MATCH_SCHEMA = (
    "pat_id string, text_id string, cost int, strand string, "
    "start long, end long, match_region string, cigar string"
)

# patterns are broadcast driver-side state, like the reference's -p/-f
# pattern sources; a million-row patterns_df is a different query shape
# (use linkage.score_pairs / a join) — fail fast instead of OOMing the
# driver on collect()
MAX_PATTERNS = 100_000

# lanes per kernel call: bounds worker memory at O(lanes x band)
SEARCH_LANES = 4096


def search(
    patterns_df: DataFrame,
    texts_df: DataFrame,
    k: int,
    mode: str = "local_minima",
    with_trace: bool = True,
    case_sensitive: bool = True,
    rc: bool = False,
    alpha: float | None = None,
    max_overhang: int | None = None,
    end_filter: Callable[[str, str, str], bool] | None = None,
    profile: str | dict | None = "ascii",
    pat_id: str = "pat_id",
    pattern: str = "pattern",
    text_id: str = "text_id",
    text: str = "text",
) -> DataFrame:
    """Approximate-occurrence search of every pattern in every text.

    mode: 'local_minima' (reference default search), 'all' (search_all),
    'best' (only_best_match), 'all_alignments' (search_all_alignments:
    every "reasonable" alignment with cost <= k per end position — the
    reference's bounded sub-optimal enumeration including its three
    inefficiency filters (no edge text-gaps, diagonal leave/enter
    discipline, no mixed indels since the last match), src/search.rs:
    708-754 + src/alignment_iterator.rs:237-327, realized by
    kernel.all_tracebacks_within_k; rows share (pat_id, text_id, end)
    and differ in start/cost/cigar, pinned by the C(8,3)=56
    combinatorial-count test plus rule-level unit tests).
    ``with_trace=False`` mirrors without_trace (src/search.rs:448-451):
    skips traceback, cigar/start/match_region null.
    ``rc=True`` also reports reverse-complement-strand matches
    (strand '-'): occurrences of revcomp(pattern), same text coordinates —
    the reference's search_handle_rc semantics (src/search.rs:787-881)
    realized as an extra broadcast lane instead of reversed-text machinery.
    ``end_filter(pattern, text_prefix, strand) -> bool`` drops end
    positions before traceback (search_with_fn, K8). The prefix is the
    SEARCHED text (lowered when ``case_sensitive=False``), so pattern
    characters compare against it consistently; ``match_region`` still
    reports the document's original bytes.
    ``profile``: 'ascii' (exact), 'dna', 'iupac' (ambiguity-class
    matching: chars match iff their class masks intersect, reference
    src/profiles/iupac.rs:136-138), 'ascii_ci', or a codepoint->mask
    dict.
    """
    # one driver job: limit(MAX+1) bounds the collect even on a huge
    # patterns_df, and len() replaces the separate count() job
    pat_rows = (
        patterns_df.select(pat_id, pattern).limit(MAX_PATTERNS + 1).coalesce(1).collect()
    )
    if len(pat_rows) > MAX_PATTERNS:
        raise ValueError(
            f"search(): > MAX_PATTERNS={MAX_PATTERNS} patterns; "
            "the broadcast-pattern plan is for small pattern sets — for "
            "large ones generate candidate pairs and use "
            "linkage.score_pairs"
        )
    pats_local = [(str(r[0]), str(r[1]), "+") for r in pat_rows]
    if rc:
        from ..functions.text import reverse_complement_str

        pats_local += [
            (pid, reverse_complement_str(p), "-") for pid, p, _ in pats_local
        ]
    if not case_sensitive:
        pats_local = [(pid, p.lower(), s) for pid, p, s in pats_local]
    from ..kernel.profiles import resolve_profile as _resolve

    if (
        k == 0
        and mode == "all"
        and case_sensitive
        and end_filter is None
        and alpha is None
        and max_overhang is None
        and _resolve(profile) is None
        and 0 < len(pats_local) <= 16
        and all(p for _, p, _ in pats_local)
    ):
        # k=0 / mode='all' / exact-profile fast path: every occurrence of
        # a literal pattern is a codegen'd filter(sequence)+substring
        # comparison — no Python boundary at all (guide §4.1: built-ins
        # beat any UDF; the kernel runner cost for k=0 was pure
        # serialization + per-row Python). Rows are pinned byte-identical
        # to the kernel runner (cost 0, char offsets, end-exclusive,
        # '<n>=' cigar, match_region == the pattern) by
        # tests/test_search.py::test_exact_fast_path_matches_kernel.
        # Bounded at 16 patterns: each adds one scan branch to the union
        # — beyond that the broadcast kernel runner's one-pass scan wins.
        return _exact_search_jvm(pats_local, texts_df, with_trace, text_id, text)
    spark = texts_df.sparkSession
    bc = spark.sparkContext.broadcast(pats_local)
    run = _make_runner(
        lambda: bc.value,
        k=k,
        mode=mode,
        with_trace=with_trace,
        alpha=alpha,
        max_overhang=max_overhang,
        end_filter=end_filter,
        profile=profile,
        text_id=text_id,
        text=text if case_sensitive else "_search_text",
        orig_text=None if case_sensitive else text,
    )

    from .linkage import _fan_out_small_input

    if case_sensitive:
        src = texts_df.select(F.col(text_id), F.col(text))
    else:
        # search the JVM-lowered column, but keep the original alongside:
        # match_region / end_filter prefixes report the document's actual
        # bytes (the reference's Ascii<false> matches case-insensitively
        # but outputs the original text)
        src = texts_df.select(
            F.col(text_id),
            F.col(text),
            F.lower(F.col(text)).alias("_search_text"),
        )
    src = _fan_out_small_input(src, text_id)
    return src.mapInPandas(run, schema=MATCH_SCHEMA)


def _exact_search_jvm(
    pats: list, texts_df: DataFrame, with_trace: bool, text_id: str, text: str
) -> DataFrame:
    """JVM-only exact-occurrence search (the k=0 fast path of
    :func:`search`).

    Two codegen-friendly formulations per pattern, chosen by whether
    the pattern can overlap itself (has a proper border, i.e. a prefix
    that is also a suffix — "atta" can; "table" cannot):

    * borderless (the common case): ``split(text, quote(p), -1)`` finds
      every occurrence in ONE native regex pass (non-overlapping ==
      all, since self-overlap is impossible); end offsets are running
      sums over the split parts' lengths — the higher-order fold runs
      over #occurrences elements, not text length. Measured 0.35s for
      the sf0.1 corpus scan vs 1.6s for the kernel runner (and 2.6s
      for a per-position filter(sequence) — interpreted HOFs over
      text-length arrays are slower than the Python kernel).
    * bordered: filter(sequence(1, L-|p|+1)) keeps the 1-based
      positions whose substring equals the literal — handles
      overlapping occurrences exactly; slower, but bordered patterns
      are the rare case.

    Offsets are CHARACTER offsets exactly like the kernel path
    (Spark's length()/substring()/split() count code points, as does
    the kernel's symbol array). Sequence upper bounds are clamped to
    >= 1 because sequence(1, n<1) would generate a DESCENDING range;
    in the bordered branch out-of-range positions fail the substring
    equality (|p| >= 1), so the clamp never admits a false hit."""
    tcol = F.col(text)
    null_l = F.lit(None).cast("long")
    null_s = F.lit(None).cast("string")

    def _pred(p: str, plen: int):
        # single-arg lambda via closure: default-arg capture would make
        # PySpark see a 3-parameter higher-order function
        return lambda i: tcol.substr(i, F.lit(plen)) == F.lit(p)

    def _ends_bordered(p: str, plen: int):
        # overlap-exact: 1-based end (inclusive position of last char
        # + 1 == end-exclusive offset) per matching start position
        n = F.greatest(F.length(tcol) - F.lit(plen - 1), F.lit(1))
        starts = F.filter(F.sequence(F.lit(1), n), _pred(p, plen))
        return F.transform(starts, lambda i: i - 1 + plen)

    def _ends_split(plen: int):
        # occurrence i's end-exclusive char offset = sum of the first i
        # split parts' lengths + i * |p|; operates on the pre-split
        # array column _ps (bound once in its own projection — inlined,
        # the split regex would be re-evaluated per reference)
        ps = F.col("_ps")
        m = F.size(ps) - 1
        return F.when(
            m >= 1,
            F.transform(
                F.sequence(F.lit(1), F.when(m >= 1, m).otherwise(F.lit(1))),
                lambda i: F.aggregate(
                    F.slice(ps, F.lit(1), i),
                    F.lit(0),
                    lambda a, x: a + F.length(x),
                )
                + i * plen,
            ),
        ).otherwise(F.array().cast("array<int>"))

    from .linkage import _fan_out_small_input

    # few-file scans would run the whole split/scan single-task (same
    # rationale as the kernel runner's fan-out)
    texts_df = _fan_out_small_input(
        texts_df.select(F.col(text_id), tcol), text_id
    )
    outs = []
    for pid, p, strand in pats:
        plen = len(p)
        bordered = any(p[:b] == p[plen - b :] for b in range(1, plen))
        if bordered:
            src = texts_df.select(
                F.col(text_id).cast("string").alias("text_id"),
                F.explode(_ends_bordered(p, plen)).alias("_e"),
            )
        else:
            rx = "\\Q" + p.replace("\\E", "\\E\\\\E\\Q") + "\\E"
            src = texts_df.select(
                F.col(text_id).cast("string").alias("text_id"),
                F.split(tcol, rx, -1).alias("_ps"),
            ).select(
                "text_id", F.explode(_ends_split(plen)).alias("_e")
            )
        hit = src
        outs.append(
            hit.select(
                F.lit(pid).alias("pat_id"),
                "text_id",
                F.lit(0).cast("int").alias("cost"),
                F.lit(strand).alias("strand"),
                (
                    (F.col("_e") - plen).cast("long") if with_trace else null_l
                ).alias("start"),
                F.col("_e").cast("long").alias("end"),
                (F.lit(p) if with_trace else null_s).alias("match_region"),
                (F.lit(f"{plen}=") if with_trace else null_s).alias("cigar"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def _make_runner(
    get_pats: Callable[[], list],
    k: int,
    mode: str,
    with_trace: bool,
    alpha: float | None,
    max_overhang: int | None,
    end_filter: Callable[[str, str, str], bool] | None,
    text_id: str,
    text: str,
    profile: str | dict | None = "ascii",
    orig_text: str | None = None,
):
    """Build the Arrow-batch runner for :func:`search` (module-level so
    tests can drive the per-batch logic in-process). ``text`` is the
    column the kernel scans (and the one end_filter prefixes slice from);
    ``orig_text`` (case-insensitive mode) is the column match regions are
    sliced from — falling back to the searched column for the rare rows
    where Unicode case folding changes the string length."""
    from ..kernel.profiles import resolve_profile

    classes = resolve_profile(profile)
    base_mode = "all" if mode == "all_alignments" else mode

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pats = get_pats()
        pat_ids = [p[0] for p in pats]
        pat_strs = [p[1] for p in pats]
        strands = [p[2] for p in pats]
        n_p = len(pat_strs)
        for pdf in batches:
            if len(pdf) == 0 or n_p == 0:
                yield _empty_match_pdf()
                continue
            # length-sort the text batch: lane chunks become
            # length-homogeneous -> less padding waste (the reference's
            # length-sorting advice, src/search.rs:326-334)
            order = np.argsort(
                pdf[text].str.len().to_numpy(), kind="stable"
            )
            pdf = pdf.iloc[order]
            tids = pdf[text_id].astype(str).to_numpy()
            txts = pdf[text].to_numpy()
            if orig_text is not None:
                origs_all = pdf[orig_text].to_numpy()
                # offsets are computed on the searched text; keep the
                # original only where folding preserved length
                origs_all = np.where(
                    [len(o) == len(t) for o, t in zip(origs_all, txts)],
                    origs_all,
                    txts,
                )
            else:
                origs_all = txts
            rows = []
            # accepted matches awaiting trace: batched so the DP fill is
            # one vectorized pass over ALL matches of this Arrow batch
            # (K11/B7 — the engine analog of the reference's simd_fill,
            # reference src/trace.rs:107-252, src/search.rs:1613-1689)
            tb_p: list = []
            tb_t: list = []
            tb_e: list = []
            tb_c: list = []
            tb_orig: list = []
            tb_idx: list = []
            # pattern-major lanes over bounded text chunks: worker memory
            # is O(SEARCH_LANES x band words), independent of corpus shape
            texts_per_chunk = max(1, SEARCH_LANES // n_p)
            for lo in range(0, len(txts), texts_per_chunk):
                chunk = txts[lo : lo + texts_per_chunk]
                chunk_orig = origs_all[lo : lo + texts_per_chunk]
                n_t = len(chunk)
                rep_p = [p for p in pat_strs for _ in range(n_t)]
                rep_t = list(chunk) * n_p
                res = myers.semiglobal_search(
                    rep_p,
                    rep_t,
                    k,
                    mode=base_mode,
                    alpha=alpha,
                    max_overhang=max_overhang,
                    classes=classes,
                )
                for lane, (ends, costs) in enumerate(res):
                    if len(ends) == 0:
                        continue
                    pi, ti = divmod(lane, n_t)
                    search_t = chunk[ti]
                    orig_t = chunk_orig[ti]
                    tid = tids[lo + ti]
                    for e, c in zip(ends.tolist(), costs.tolist()):
                        e = int(e)
                        c = int(c)
                        # the predicate sees the SEARCHED prefix (lowered in
                        # case-insensitive mode) so it compares against the
                        # same folding as the (folded) pattern
                        if end_filter is not None and not end_filter(
                            pat_strs[pi], search_t[:e], strands[pi]
                        ):
                            continue
                        if mode == "all_alignments":
                            for start, pcost, cigar in (
                                myers.all_tracebacks_within_k(
                                    pat_strs[pi], search_t, e, k,
                                    classes=classes,
                                )
                            ):
                                rows.append(
                                    (
                                        pat_ids[pi],
                                        tid,
                                        pcost,
                                        strands[pi],
                                        start,
                                        e,
                                        orig_t[start:e],
                                        cigar,
                                    )
                                )
                            continue
                        if with_trace:
                            # placeholder row; patched after the batched
                            # trace fill below
                            tb_p.append(pat_strs[pi])
                            tb_t.append(search_t)
                            tb_e.append(e)
                            tb_c.append(c)
                            tb_orig.append(orig_t)
                            tb_idx.append(len(rows))
                            rows.append(
                                (pat_ids[pi], tid, c, strands[pi],
                                 None, e, None, None)
                            )
                        else:
                            rows.append(
                                (pat_ids[pi], tid, c, strands[pi],
                                 None, e, None, None)
                            )
            if tb_p:
                traced = myers.traceback_batch(
                    tb_p, tb_t, tb_e, tb_c, classes=classes
                )
                for ri, orig_t, (start, cigar) in zip(tb_idx, tb_orig, traced):
                    pid, tid, c, strand, _, e, _, _ = rows[ri]
                    rows[ri] = (
                        pid, tid, c, strand, start, e,
                        orig_t[start:e], cigar,
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "pat_id",
                    "text_id",
                    "cost",
                    "strand",
                    "start",
                    "end",
                    "match_region",
                    "cigar",
                ],
            ) if rows else _empty_match_pdf()

    return run


def _empty_match_pdf() -> pd.DataFrame:
    return pd.DataFrame(
        {
            "pat_id": pd.Series(dtype=object),
            "text_id": pd.Series(dtype=object),
            "cost": pd.Series(dtype="int32"),
            "strand": pd.Series(dtype=object),
            "start": pd.Series(dtype="float"),
            "end": pd.Series(dtype="int64"),
            "match_region": pd.Series(dtype=object),
            "cigar": pd.Series(dtype=object),
        }
    )


def filter_matching(
    texts_df: DataFrame,
    matches_df: DataFrame,
    invert: bool = False,
    text_id: str = "text_id",
) -> DataFrame:
    """Records with >= 1 match (semi join); invert -> records with none
    (anti join). Reference `filter` subcommand, bin/grep.rs:589-622."""
    how = "left_anti" if invert else "left_semi"
    keys = matches_df.select(text_id).distinct()
    return texts_df.join(keys, on=text_id, how=how)


def crispr_search(
    guides_df: DataFrame,
    texts_df: DataFrame,
    k: int,
    pam_length: int = 3,
    allow_pam_edits: bool = False,
    max_n_frac: float | None = None,
    rc: bool = True,
    pat_id: str = "pat_id",
    pattern: str = "pattern",
    text_id: str = "text_id",
    text: str = "text",
) -> DataFrame:
    """CRISPR guide search — the reference's domain pipeline
    (bin/crispr.rs): guides INCLUDE their PAM; matches may use up to
    ``k`` edits outside the PAM but the PAM region itself must
    profile-match exactly (IUPAC classes, so an NGG PAM matches any
    base + GG), unless ``allow_pam_edits``. ``max_n_frac`` drops matches
    whose target region exceeds that fraction of N bases
    (bin/crispr.rs:86-89); ``rc`` searches both strands.

    Physical shape: one IUPAC-profile search of the full guide at k, the
    forward-strand PAM constraint pushed pre-traceback via the
    ``end_filter`` hook (search_with_fn, bin/crispr.rs:198-221), and the
    strand-aware PAM + N-fraction verification as Catalyst filters on the
    traced match region (on '-' strand the PAM complement sits at the
    match START in text coordinates).
    """
    from ..kernel.profiles import IUPAC_CLASSES, seqs_match

    # collect the guides ONCE: both the search's broadcast pattern set and
    # the PAM map come from these rows (one driver job on the guide source)
    guide_rows = (
        guides_df.select(pat_id, pattern).limit(MAX_PATTERNS + 1).coalesce(1).collect()
    )
    guides_local = guides_df.sparkSession.createDataFrame(
        [(str(r[0]), str(r[1])) for r in guide_rows], [pat_id, pattern]
    )

    end_filter = None
    if not allow_pam_edits:
        # pre-traceback pushdown for the forward strand: the PAM region of
        # a candidate match is the last pam_length chars of the prefix
        def end_filter(pat: str, prefix: str, strand: str) -> bool:
            if strand != "+":
                return True  # '-' strand verified post-trace (PAM at start)
            return len(prefix) >= pam_length and seqs_match(
                prefix[-pam_length:], pat[-pam_length:], IUPAC_CLASSES
            )

    m = search(
        guides_local,
        texts_df,
        k=k,
        mode="all",
        with_trace=True,
        rc=rc,
        profile="iupac",
        end_filter=end_filter,
        pat_id=pat_id,
        pattern=pattern,
        text_id=text_id,
        text=text,
    )
    if not allow_pam_edits:
        # strand-aware exact-PAM verify on the traced region using the
        # SAME profile rule as the kernel (profiles.seqs_match — full
        # IUPAC ambiguity, not just an N wildcard, so Cas12a-style TTTV
        # PAMs work). Matches are few post-search, so an Arrow-batched
        # boolean UDF over (pat_id, strand, match_region) is the simple
        # exact implementation; the broadcast PAM map rides in the
        # closure.
        from ..functions.text import reverse_complement_str

        pams = {
            str(r[0]): str(r[1])[-pam_length:] for r in guide_rows
        }
        pams_rc = {pid: reverse_complement_str(p) for pid, p in pams.items()}

        @F.pandas_udf("boolean")
        def pam_ok(
            pids: pd.Series, strands: pd.Series, regions: pd.Series
        ) -> pd.Series:
            out = []
            for pid, strand, region in zip(pids, strands, regions):
                region = region or ""
                if strand == "+":
                    ok = len(region) >= pam_length and seqs_match(
                        region[-pam_length:], pams[pid], IUPAC_CLASSES
                    )
                else:
                    ok = len(region) >= pam_length and seqs_match(
                        region[:pam_length], pams_rc[pid], IUPAC_CLASSES
                    )
                out.append(ok)
            return pd.Series(out)

        m = m.where(pam_ok(F.col("pat_id"), F.col("strand"), F.col("match_region")))
    if max_n_frac is not None:
        n_count = F.length(F.col("match_region")) - F.length(
            F.regexp_replace(F.upper(F.col("match_region")), "N", "")
        )
        m = m.where(
            n_count
            <= F.lit(max_n_frac) * F.greatest(F.length("match_region"), F.lit(1))
        )
    return m


def write_matches_tsv(matches_df: DataFrame, path: str, sorted_output: bool = True):
    """The reference's TSV output contract as a sink (README.md:211-239,
    bin/grep.rs:710-738): tab-separated, headered, one row per match,
    deterministically ordered when ``sorted_output`` (the reference's
    --sorted flag; O1 ordered-output semantics)."""
    df = matches_df.select(
        "pat_id", "text_id", "cost", "strand", "start", "end",
        "match_region", "cigar",
    )
    if sorted_output:
        df = df.orderBy("text_id", "start", "end", "pat_id")
    (
        df.write.mode("overwrite")
        .option("sep", "\t")
        .option("header", True)
        .csv(path)
    )
