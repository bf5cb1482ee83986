"""Deduplication operators for the training-data pipeline (north-star
extension; SURVEY.md §7 phase 6): exact, MinHash+LSH, SimHash, and exact
n-gram-Jaccard near-dup detection — all as DataFrame compositions, no
Python in the hot path.

Scale design (the 100 TB story):
- Exact dedup groups by a 64/128-bit content hash, never the full text —
  the shuffle moves 8-16 bytes + doc_id per row instead of documents.
- MinHash/LSH: per-doc signature computation is embarrassingly parallel
  (JVM higher-order functions); candidate generation shuffles only
  (band_value, doc_id) pairs; Jaccard verification joins only the
  candidate set. Dial (num_hashes, bands) for recall/cost.
- SimHash: one 32-bit fingerprint per doc; near-dup = same fingerprint or
  banded fingerprint prefix join — cheapest of the three at scale.

Two hash flavors:
- ``poly_hash`` — portable polynomial rolling hash, bit-identical to a
  DuckDB `list_reduce` expression so the driver's oracle can verify the
  full pipeline exactly;
- ``xxhash64``-based fast path for production (JVM intrinsic, ~10× faster)
  via ``fast=True`` where semantics allow.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

POLY_MOD = 1_000_000_007
POLY_BASE = 31
POLY_INIT = 7

# Fixed MinHash seed pairs (a, b): h_j(x) = (a*x + b) mod POLY_MOD.
# 32 distinct (a, b) permutation pairs: indexing past the list would
# silently REUSE seeds — h{j+len} ≡ h{j} and duplicate LSH bands add
# shuffle work while contributing zero recall (review finding: the
# 16-hash drop list was effectively running 8 bands). _seed() raises
# instead of wrapping.
MINHASH_SEEDS: tuple[tuple[int, int], ...] = (
    (3, 1),
    (5, 7),
    (11, 13),
    (17, 19),
    (23, 29),
    (31, 37),
    (41, 43),
    (47, 53),
    (59, 61),
    (67, 71),
    (73, 79),
    (83, 89),
    (97, 101),
    (103, 107),
    (109, 113),
    (127, 131),
    (137, 139),
    (149, 151),
    (157, 163),
    (167, 173),
    (179, 181),
    (191, 193),
    (197, 199),
    (211, 223),
    (227, 229),
    (233, 239),
    (241, 251),
    (257, 263),
    (269, 271),
    (277, 281),
    (283, 293),
    (307, 311),
)


def _seed(j: int) -> tuple[int, int]:
    if j >= len(MINHASH_SEEDS):
        raise ValueError(
            f"num_hashes={j + 1} exceeds the {len(MINHASH_SEEDS)} distinct "
            "MinHash permutation seeds; wrapping would duplicate bands"
        )
    return MINHASH_SEEDS[j]


def poly_hash(scol: Column) -> Column:
    """Portable rolling hash: fold (acc*31 + ascii(char)) % (1e9+7) over the
    string's characters. Oracle-exact (DuckDB list_reduce computes the same
    integers). Use for signatures that must cross engines."""
    chars = F.filter(F.split(scol, ""), lambda c: c != F.lit(""))
    return F.aggregate(
        chars,
        F.lit(POLY_INIT).cast("long"),
        lambda acc, c: (acc * POLY_BASE + F.ascii(c)) % POLY_MOD,
    )


def shingle_poly_hashes_from_tokens(toks: Column, n: int = 3) -> Column:
    """array<long> of `poly_hash` values of the n-word shingles of
    ``toks`` — bit-identical to hashing the ``concat_ws(' ')`` shingle
    strings, WITHOUT building them. Uses the exact modular identity

        fold(A over w) = (A · 31^len(w) + P(w)) mod p,

    where P(w) is the word's own char fold from 0 and 31^len(w) is
    tracked alongside it in a struct accumulator, so every character in
    the document is folded ONCE (per word) instead of once per shingle
    it appears in (n× for interior words) — and no shingle strings are
    concatenated, carried, or re-walked. Separators fold in as their
    ascii (32) between words, reproducing the concatenated string's
    character sequence exactly (including empty tokens from doubled
    separators). Docs with fewer than n tokens yield an empty array.

    Every intermediate stays < p·31 + 255 or < p² ≈ 1.07e18 — inside
    int64 under ANSI.

    CALLER CONTRACT: compose via the two staged halves
    (`word_poly_folds` selected as a REAL column, then
    `shingle_hashes_from_folds` over that column). Interpreted
    higher-order functions get no common-subexpression elimination, so
    an inline word-fold array is re-evaluated on every element_at —
    O(shingles × doc chars) instead of O(doc chars) (the same trap
    exploded_shingles documents for split). This convenience wrapper is
    for tests/small data."""
    return shingle_hashes_from_folds(word_poly_folds(toks), F.size(toks), n)


def word_poly_folds(toks: Column) -> Column:
    """array<struct<h,pw>> of per-word (P(w), 31^len(w) mod p) folds —
    stage THIS as a real column before composing shingle hashes."""
    return F.transform(
        toks,
        lambda w: F.aggregate(
            F.filter(F.split(w, ""), lambda c: c != F.lit("")),
            F.struct(
                F.lit(0).cast("long").alias("h"),
                F.lit(1).cast("long").alias("pw"),
            ),
            lambda acc, c: F.struct(
                ((acc["h"] * POLY_BASE + F.ascii(c)) % POLY_MOD).alias("h"),
                ((acc["pw"] * POLY_BASE) % POLY_MOD).alias("pw"),
            ),
        ),
    )


def shingle_hashes_from_folds(wh: Column, n_tokens: Column, n: int = 3) -> Column:
    """Compose n-word shingle hashes from staged `word_poly_folds`:
    ~2n long multiply-adds per shingle, zero string work."""

    def shingle_hash(i: Column) -> Column:
        acc = F.lit(POLY_INIT).cast("long")
        for j in range(n):
            w = F.element_at(wh, i + j + 1)
            acc = (acc * w["pw"] + w["h"]) % POLY_MOD
            if j < n - 1:
                acc = (acc * POLY_BASE + F.lit(32)) % POLY_MOD  # ' '
        return acc

    hashes = F.transform(F.sequence(F.lit(0), n_tokens - n), shingle_hash)
    return F.when(n_tokens >= n, hashes).otherwise(
        F.array().cast("array<long>")
    )


def word_shingles(text: Column, n: int = 3, sep: str = " ") -> Column:
    """Distinct n-word shingles of a document (array<string>).

    Documents with fewer than n tokens yield an EMPTY array (guarded:
    F.sequence(0, size-n) would otherwise produce a descending sequence
    like [0,-1,-2] and element_at(…, 0) is an ANSI error in Spark 4)."""
    toks = F.split(text, sep)
    shingles = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(
                sep, *[F.element_at(toks, i + j + 1) for j in range(n)]
            ),
        )
    )
    return F.when(F.size(toks) >= n, shingles).otherwise(
        F.array().cast("array<string>")
    )


def _spread_small_input(df: DataFrame) -> DataFrame:
    """Round-robin repartition to the session's default parallelism when
    the plan would otherwise run in fewer tasks (r19; guide §2.5's
    unsplittable-input case): a small or single-row-group parquet file
    yields ONE scan partition, which serializes every downstream
    per-row stage — the shingle explode multiplies rows ~50× inside
    that single task (measured at sf0.1: the 8-gram explode+hash pass
    0.53 s → 0.27 s p50 once spread). Data-adaptive, not a local-mode
    constant: a big scan already yields >= parallelism partitions, so
    the condition never fires at scale and no shuffle is added; when it
    does fire, the exchange moves only the pre-explode rows (ids +
    texts). Streaming frames pass through untouched (no .rdd there).

    Applied ONLY where the interleaved A/B won (r19): the portable
    MinHash Arrow pass (`minhash_signatures_rows`: min 0.51→0.38, p50
    0.69→0.43 — its numpy fold body is heavy and one slow core no
    longer owns the whole stage). Deliberately NOT inside
    exploded_shingles, the cache build, or `simhash_rows`: for cheap
    per-row work the extra exchange + 32-task scheduling measurably
    LOSES or ties at fixture scale (dedup_minhash_fast min 0.66→0.94
    when exploded_shingles spread; the 32-partition shingle CACHE cost
    every consumer ~0.3-0.5 s of task scheduling; simhash flipped sign
    between windows), and in multi-branch queries the serial explode
    hides under concurrently scheduled sibling stages (decontam min
    unchanged by spreading). See OPTIMIZATION_r19.md."""
    if df.isStreaming:
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def exploded_shingles(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    outer: bool = False,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """(id, shingle) rows with the token array staged as a real column
    first. Staging matters: an inline `split()` inside the shingle lambda
    is re-evaluated per element_at (no subexpression elimination in
    interpreted higher-order functions) — measured 8× slower at sf0.1.

    ``outer=True`` keeps shingle-less docs (< n tokens) as one NULL-shingle
    row (explode_outer) so id-preserving aggregations don't drop them.
    ``carry`` names extra columns of ``df`` to ride along (e.g. a content
    hash consumed by the same aggregation — free through a partial-agg
    shuffle, saves its own scan+join)."""
    staged = df.select(
        F.col(id_col),
        *[F.col(c) for c in carry],
        F.split(F.col(text_col), " ").alias("_toks"),
    )
    # One F.expr parse for the whole shingle subtree (r18, guide §5):
    # the Column form paid ~25 py4j round trips PER shingle position
    # (n element_at + index arithmetic inside the transform lambda) —
    # ~200 per call at n=8, pure driver latency before any job. Same
    # tree: element_at over the staged token array, concat_ws(' '),
    # array_distinct, with the size() CASE guard. Short docs (size < n)
    # explode to zero rows; without the guard the descending sequence
    # hits element_at index 0 (ANSI error, Spark 4).
    elems = ", ".join(f"element_at(_toks, i + {j + 1})" for j in range(n))
    shingles_sql = (
        f"CASE WHEN size(_toks) >= {n} THEN "
        f"array_distinct(transform(sequence(0, size(_toks) - {n}), "
        f"i -> concat_ws(' ', {elems}))) "
        f"ELSE CAST(array() AS array<string>) END"
    )
    exploder = "explode_outer" if outer else "explode"
    return staged.select(
        id_col,
        *carry,
        F.expr(f"{exploder}({shingles_sql})").alias("shingle"),
    )


def shingle_hashes(text: Column, n: int = 3, fast: bool = False) -> Column:
    """array<long> of hashed distinct n-word shingles. The fast path pmods
    xxhash64 into the prime field so downstream permutation math
    (h*a + b) cannot overflow LongType (ANSI error in Spark 4) — same
    normalization as minhash_signatures_agg."""
    hasher = (
        (lambda s: F.pmod(F.xxhash64(s), F.lit(POLY_MOD))) if fast else poly_hash
    )
    return F.transform(word_shingles(text, n), hasher)


def minhash_signature(
    text: Column, num_hashes: int = 8, n: int = 3, fast: bool = False
) -> list[Column]:
    """MinHash signature columns h0..h{num_hashes-1}: min over shingles of
    (a*h+b) mod P per seed. NULL when the doc has < n tokens."""
    hl = shingle_hashes(text, n, fast)

    def perm(a: int, b: int):
        # closure factory: the lambda must stay unary for PySpark's
        # higher-order-function arity detection
        return lambda h: (h * a + b) % POLY_MOD

    sigs = []
    for j in range(num_hashes):
        a, b = _seed(j)
        sigs.append(F.array_min(F.transform(hl, perm(a, b))).alias(f"h{j}"))
    return sigs


def minhash_signatures_agg(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    n: int = 3,
    fast: bool = False,
    shingles: DataFrame | None = None,
    shingles_hashed: bool = False,
) -> DataFrame:
    """MinHash signatures via explode + partial-aggregated min — the scale
    formulation: each shingle is hashed ONCE (vs once per permutation in
    the array form), permutations are cheap integer ops inside a codegen'd
    HashAggregate, and no per-doc array materializes. Shuffle carries
    (id, num_hashes longs) after map-side combine.

    fast=True swaps the portable polynomial hash for xxhash64 (~10×): the
    production path; signatures are then engine-specific.

    The portable path never materializes shingle STRINGS: hashes come
    from word-composed folds (`shingle_poly_hashes_from_tokens` — each
    char folded once per word, not once per shingle) and explode as
    longs straight into the min-aggregate. It also skips the per-doc
    distinct: a min over a multiset equals the min over its value set,
    so duplicate shingles (and even hash collisions) cannot change any
    signature — the volume saved by distinct is smaller than the pass
    it costs.

    ``shingles`` (fast path only) supplies a pre-exploded (id, shingle)
    table — e.g. one persisted and shared with a downstream verify pass.
    ``shingles_hashed=True`` marks its shingle column as ALREADY
    xxhash64(string) longs (the narrow production cache layout):
    signatures are unchanged — pmod(xxhash64(s), P) ≡ pmod(h, P) — but
    the cache and every downstream shuffle carry 8-byte keys.
    """
    if fast:
        # outer=True: a doc with < n tokens must still emit a signature
        # row (NULL/constant hashes), matching the portable branch and
        # the oracle's list_min-over-empty = NULL. A caller-provided
        # ``shingles`` table controls its own coverage.
        sh = shingles if shingles is not None else exploded_shingles(
            df, id_col, text_col, n, outer=True
        )
        # pmod into the prime field so permutation math can't overflow
        # ANSI. NULL shingles (shingle-less docs) must stay NULL —
        # xxhash64(NULL) returns the seed, which would give every short
        # doc the SAME non-null signature and band-collide them all.
        pre = F.col("shingle") if shingles_hashed else F.when(
            F.col("shingle").isNotNull(), F.xxhash64(F.col("shingle"))
        )
        h = F.pmod(pre, F.lit(POLY_MOD))
        hashed = sh.select(id_col, h.alias("_h"))
    else:
        staged = df.select(
            F.col(id_col), F.split(F.col(text_col), " ").alias("_toks")
        ).select(
            id_col,
            word_poly_folds(F.col("_toks")).alias("_wh"),
            F.size("_toks").alias("_nt"),
        )
        # explode_OUTER: docs with < n tokens have an empty hash array;
        # plain explode dropped their rows entirely while the DuckDB
        # oracle emits (doc_id, NULL mins) for them — a latent
        # rows_match break on any fixture with a short document
        # (review finding)
        hashed = staged.select(
            id_col,
            F.explode_outer(
                shingle_hashes_from_folds(F.col("_wh"), F.col("_nt"), n)
            ).alias("_h"),
        )
    # one F.expr parse per permutation instead of ~6 py4j round trips
    # of Column construction (r18 — same tree: * int, + int, % int on
    # the same literals; see near_dup_drop_list's fast-path note)
    aggs = []
    for j in range(num_hashes):
        a, b = _seed(j)
        aggs.append(
            F.expr(f"min((_h * {a} + {b}) % {POLY_MOD}) AS h{j}")
        )
    return hashed.groupBy(id_col).agg(*aggs)


def _np_word_folds(words: list[str]):
    """Vectorized per-word polynomial folds: (h0, pw) int64 numpy arrays
    with h0(w) = Σ code(c_i)·31^(len-1-i) mod p (the fold FROM 0) and
    pw(w) = 31^len(w) mod p — the same decomposition `word_poly_folds`
    computes in Catalyst, at C speed over one flat byte buffer.

    Exact-integer arithmetic throughout: every intermediate is bounded
    (char contribution < 256·p ≈ 2.6e11; the cumulative sum grows by
    < p per character, so a batch needs > 9e9 characters to overflow
    int64 — far past any realistic Arrow batch). Non-ASCII batches take
    a per-word Python fold over code points (`F.ascii` = code point of
    the first character), bit-identical, just slower — correctness never
    depends on the fast path."""
    import numpy as np

    nw = len(words)
    if nw == 0:
        z = np.zeros(0, dtype=np.int64)
        return z, z
    flat = "".join(words)
    lens = np.fromiter((len(w) for w in words), dtype=np.int64, count=nw)
    max_len = int(lens.max(initial=0))
    pow31 = np.ones(max_len + 1, dtype=np.int64)
    for i in range(1, max_len + 1):
        pow31[i] = (pow31[i - 1] * POLY_BASE) % POLY_MOD
    pw = pow31[lens]
    if flat.isascii():
        b = np.frombuffer(flat.encode("ascii"), dtype=np.uint8).astype(np.int64)
        ends = np.cumsum(lens)
        starts = ends - lens
        exp = np.repeat(ends, lens) - 1 - np.arange(len(b), dtype=np.int64)
        contrib = (b * pow31[exp]) % POLY_MOD
        csum = np.concatenate(([0], np.cumsum(contrib)))
        h0 = (csum[ends] - csum[starts]) % POLY_MOD
    else:
        h0 = np.fromiter(
            (
                _py_word_fold(w)
                for w in words
            ),
            dtype=np.int64,
            count=nw,
        )
    return h0, pw


def _py_word_fold(w: str) -> int:
    h = 0
    for c in w:
        h = (h * POLY_BASE + ord(c)) % POLY_MOD
    return h


def _minhash_arrow_batches(batches, id_col: str, text_col: str,
                           num_hashes: int, n: int):
    """mapInArrow body for `minhash_signatures_rows`: per-row portable
    MinHash signatures, all docs of a batch vectorized through numpy.
    Pure integer arithmetic mod p — value-identical to the Catalyst
    formulation (same word-fold decomposition, same seed permutations)."""
    import numpy as np
    import pyarrow as pa

    seeds = [_seed(j) for j in range(num_hashes)]
    fields = [(f"h{j}", pa.int64()) for j in range(num_hashes)]
    for batch in batches:
        tbl = pa.Table.from_batches([batch])
        ids = tbl.column(id_col)
        texts = tbl.column(text_col).to_pylist()
        toks = [("" if t is None else t).split(" ") for t in texts]
        wc = np.fromiter((len(t) for t in toks), dtype=np.int64,
                         count=len(toks))
        words: list[str] = [w for t in toks for w in t]
        h0, pw = _np_word_folds(words)
        # valid shingle start positions: local word index <= wc - n
        word_doc = np.repeat(np.arange(len(toks), dtype=np.int64), wc)
        doc_word_start = np.cumsum(wc) - wc
        local = np.arange(len(words), dtype=np.int64) - doc_word_start[word_doc]
        valid = local <= (wc[word_doc] - n)
        g = np.nonzero(valid)[0]
        # compose the n-word shingle hash exactly as shingle_hashes_from_
        # folds does: acc = 7, then (acc·pw + h0) per word with a
        # (acc·31 + 32) space fold between words
        acc = np.full(len(g), POLY_INIT, dtype=np.int64)
        for j in range(n):
            acc = (acc * pw[g + j] + h0[g + j]) % POLY_MOD
            if j < n - 1:
                acc = (acc * POLY_BASE + 32) % POLY_MOD
        sc = np.where(wc >= n, wc - (n - 1), 0)
        seg_start = np.cumsum(sc) - sc
        nz = sc > 0
        cols = []
        for a, b in seeds:
            sig = (acc * a + b) % POLY_MOD
            out = np.zeros(len(toks), dtype=np.int64)
            if nz.any():
                out[nz] = np.minimum.reduceat(sig, seg_start[nz])
            cols.append(pa.array(out, mask=~nz))
        yield pa.RecordBatch.from_arrays(
            [ids.combine_chunks()] + cols,
            schema=pa.schema([(id_col, ids.type)] + fields),
        )


def minhash_signatures_rows(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    n: int = 3,
) -> DataFrame:
    """Portable MinHash signatures as a single vectorized Arrow pass —
    the zero-shuffle formulation of `minhash_signatures_agg`'s portable
    path (r18; optimization guide §4.2): signatures are a pure per-row
    function of the text, so no explode, no aggregate and no exchange
    are fundamentally required — one scan, one mapInArrow, numpy doing
    the character folds over a flat byte buffer instead of Catalyst's
    interpreted higher-order aggregate (no codegen for HOFs). Only
    (id, text) crosses the Python boundary. Value-identical by
    construction: same word-fold decomposition, same modular identity,
    same seeds; docs with < n tokens yield NULL signatures exactly like
    the explode_outer + min-over-empty path. Measured sf0.1: 1.15 s →
    see OPTIMIZATION_r18.md (the agg form stays for the fast/xxhash64
    LSH path, where the hash is a JVM intrinsic)."""
    for j in range(num_hashes):
        _seed(j)  # validate seed range before shipping the lambda
    schema = ", ".join(
        [f"{id_col} long"] + [f"h{j} long" for j in range(num_hashes)]
    )

    def body(batches):
        return _minhash_arrow_batches(batches, id_col, text_col, num_hashes, n)

    # spread a single-partition scan so the numpy folds parallelize
    # (r19, guide §2.5 — see _spread_small_input; no-op at scale)
    return _spread_small_input(df.select(id_col, text_col)).mapInArrow(
        body, schema
    )


def _simhash_arrow_batches(batches, id_col: str, text_col: str, bits: int):
    """mapInArrow body for `simhash_rows`: per-row portable SimHash over
    distinct unigram tokens, vectorized bit votes via one (tokens × bits)
    matrix reduction per batch."""
    import numpy as np
    import pyarrow as pa

    out_name = "simhash32" if bits == 32 else "simhash"
    for batch in batches:
        tbl = pa.Table.from_batches([batch])
        ids = tbl.column(id_col)
        texts = tbl.column(text_col).to_pylist()
        # distinct tokens per doc (votes sum — order irrelevant);
        # split(" ") matches F.split's keep-empties semantics
        toks = [
            list(dict.fromkeys(("" if t is None else t).split(" ")))
            for t in texts
        ]
        wc = np.fromiter((len(t) for t in toks), dtype=np.int64,
                         count=len(toks))
        words = [w for t in toks for w in t]
        h0, pw = _np_word_folds(words)
        h = (POLY_INIT * pw + h0) % POLY_MOD
        # bit matrix: (tokens × bits) of ±1 votes, summed per doc —
        # 2·popcount - n, identical to Σ when(bit,1,-1)
        shifts = np.arange(bits, dtype=np.int64)
        bitm = (h[:, None] >> shifts) & 1
        seg_start = np.cumsum(wc) - wc
        ones = np.add.reduceat(bitm, seg_start, axis=0)
        votes = 2 * ones - wc[:, None]
        fp = ((votes > 0) * (np.int64(1) << shifts)).sum(
            axis=1, dtype=np.int64
        )
        yield pa.RecordBatch.from_arrays(
            [ids.combine_chunks(), pa.array(fp)],
            schema=pa.schema([(id_col, ids.type), (out_name, pa.int64())]),
        )


def simhash_rows(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
) -> DataFrame:
    """Portable SimHash fingerprints as a single vectorized Arrow pass —
    the zero-shuffle formulation of `simhash_agg`'s portable path (r18;
    guide §4.2). A fingerprint is a pure per-row function of the doc's
    distinct unigrams, so the explode + 32-conditional-sum aggregate
    (and its exchange) is not fundamentally required: one scan, one
    mapInArrow, the char folds and bit votes vectorized in numpy. Only
    (id, text) crosses the boundary; every doc yields exactly one row
    (split(" ") never returns an empty token list, matching the
    Catalyst path's explode of ≥1 distinct unigrams). Value-identical:
    same polynomial fold, same ±1 vote rule (2·popcount − n), same
    bit packing."""
    schema_name = "simhash32" if bits == 32 else "simhash"

    def body(batches):
        return _simhash_arrow_batches(batches, id_col, text_col, bits)

    # deliberately NOT spread (unlike minhash_signatures_rows): the
    # unigram-vote body is light enough that the spread's exchange +
    # task scheduling only tied across two interleaved A/Bs (mins
    # 0.38/0.37 then 0.29/0.36) — below this box's discrimination
    # threshold, so the simpler plan stays (r19)
    return df.select(id_col, text_col).mapInArrow(
        body, f"{id_col} long, {schema_name} long"
    )


def exact_dedup(
    df: DataFrame, content_col: str = "text", id_col: str = "doc_id", fast: bool = True
) -> DataFrame:
    """Exact dedup via content hash: one row per distinct content, keeping
    the lowest id. Shuffles (hash, id) only — not the payload."""
    h = (F.xxhash64(F.col(content_col)) if fast else poly_hash(F.col(content_col))).alias(
        "content_hash"
    )
    return (
        df.select(h, F.col(id_col))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("dup_cnt"))
    )


def minhash_exact_groups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    n: int = 3,
) -> DataFrame:
    """Exact duplicate groups found THROUGH the fast (xxhash64) MinHash
    path: signatures are the bucket key, content-hash equality within a
    bucket defines the group — the LSH candidate→verify step collapsed
    to one window, which is valid for the exact-duplicate case because
    identical texts ALWAYS share a full signature (min over identical
    shingle multisets), so no exact pair can straddle buckets.

    Returns ``(doc_id, group_min_id)``: the exact-text duplicate
    partition of the corpus, keyed to each group's lowest id. That makes
    the production xxhash64 signatures driver-checkable cross-engine —
    the OUTPUT is hash-engine-independent (≡ GROUP BY text), while an
    unstable or partition-dependent fast signature would split an exact
    group across buckets and surface as a mismatch. (Raw signature
    grouping alone is NOT text grouping: planted near-dups at Jaccard
    ≈0.9 collide on all 8 hashes ~43% of the time — measured 213/5000
    merged rows at sf0.1 — hence the verify term.)

    Shuffle shape at scale: ONE pass — the content hash rides the
    signature aggregation (constant per doc, so it is a grouping key the
    partial agg collapses map-side; the shuffle carries id + 8 longs +
    chash per doc, no extra scan, no join) — then a window over
    (8 longs + content hash). The text never rides a shuffle. Docs with
    < n tokens keep one NULL-shingle row (explode_outer ⇒ a shared
    constant signature from xxhash64(NULL)=42); the content hash still
    separates them correctly."""
    pre = df.select(
        F.col(id_col), F.xxhash64(F.col(text_col)).alias("_chash"), F.col(text_col)
    )
    sh = exploded_shingles(pre, id_col, text_col, n, outer=True, carry=("_chash",))
    hashed = sh.select(
        F.col(id_col),
        F.col("_chash"),
        F.expr(f"pmod(xxhash64(shingle), {POLY_MOD})").alias("_h"),
    )
    # one F.expr parse per permutation instead of ~6 py4j round trips of
    # Column construction (r18 — same tree as minhash_signatures_agg)
    aggs = []
    for j in range(num_hashes):
        a, b = _seed(j)
        aggs.append(F.expr(f"min((_h * {a} + {b}) % {POLY_MOD}) AS h{j}"))
    sig = hashed.groupBy(id_col, "_chash").agg(*aggs)
    sig_cols = [f"h{j}" for j in range(num_hashes)]
    w = Window.partitionBy(*sig_cols, "_chash")
    return sig.select(
        F.col(id_col), F.min(id_col).over(w).alias("group_min_id")
    )


def capped_shingles(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    max_doc_freq: int | None = 1000,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """(id, shingle) rows with hot shingles removed: any shingle present
    in more than `max_doc_freq` docs is dropped BEFORE any self-join.
    ``shingles`` supplies a pre-exploded (id, shingle) table (e.g. a
    persisted one shared with the signature pass) instead of re-deriving
    it from ``df``.

    This is the guard that makes shared-shingle joins survive 100 TB: one
    stop-phrase gram shared by 1M docs otherwise yields ~5·10¹¹ candidate
    pairs from that single key.

    The cap is a document-frequency count WINDOW over the shingle key
    plus a filter — not a groupBy-the-hot-set + anti-join. One shuffle
    on `s` replaces [aggregate shuffle + join], there is no broadcast
    to outgrow a driver heap (a fixed absolute df cap means the "tiny
    Zipf head" grows with corpus size — 10× the fixture already pushed
    a pinned broadcast build past a 1 GiB heap), and the output comes
    back hash-partitioned BY `s`, which is exactly the partitioning the
    downstream shared-shingle self-joins need — Catalyst skips their
    re-shuffle entirely. `max_doc_freq=None` disables the cap (exact
    semantics at fixture scale)."""
    if shingles is None:
        shingles = exploded_shingles(df, id_col, text_col, n)
    sh = shingles.toDF("id", "s")
    if max_doc_freq is None:
        return sh
    # per-doc shingles are distinct, so count-over-s == document frequency
    dfreq = F.count(F.lit(1)).over(Window.partitionBy("s"))
    return (
        sh.withColumn("_df", dfreq)
        .where(F.col("_df") <= max_doc_freq)
        .drop("_df")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.05,
    max_doc_freq: int | None = 1000,
    shingles: DataFrame | None = None,
    shingles_hashed: bool = False,
) -> DataFrame:
    """Exact n-gram Jaccard similar pairs via shared-shingle equi-join:
    |A∩B| from a self-join on shingles, |A∪B| = |A|+|B|-|A∩B|.

    Work is bounded by pairs that actually share a shingle, with hot
    shingles (document frequency > `max_doc_freq`) dropped first — the
    standard guard against stop-phrase grams creating quadratic
    candidates. Jaccard is computed consistently over the CAPPED shingle
    space (both intersection and set sizes), so results are exact
    whenever no shingle exceeds the cap. Candidate generation via
    `minhash_candidate_pairs` is the cheaper path when the corpus is
    large and threshold is high.

    ``shingles``/``shingles_hashed`` mirror `near_dup_drop_list`: a
    pre-exploded (id, shingle) table — e.g. the persisted hashed cache
    shared across dedup jobs — replaces the explode, and
    ``shingles_hashed=True`` marks the values as already xxhash64 longs.

    Layout (r18, guide §2.3/§2.4): shingles are hashed to 8-byte longs
    up front, so the doc-freq window exchange AND the self-join carry
    longs, never n-word strings (intersections and sizes are
    hash-invariant short of an xxhash64 collision — the accepted stance
    of the drop-list verify join, which also caps on the hashed cache).
    The self-join is SHUFFLE_HASH-hinted directly on the capped table,
    which the doc-freq window left hash-partitioned BY `s` — the join's
    two identical children collapse into the window's single exchange
    (ReusedExchange) instead of re-shuffling both sides, and the hash
    join skips the two full sorts a merge join would pay (measured
    faster at sf0.1; per-partition build memory is bounded by the
    doc-freq cap plus AQE partition sizing, and an auto-broadcast
    would instead recompute the whole subtree as a broadcast
    relation). Set sizes come from a per-id count aggregate
    attached to the PAIR table — the pair set is orders of magnitude
    smaller than the exploded shingle table, so two narrow joins there
    beat the previous per-id count WINDOW, which re-shuffled every
    shingle row by id just to carry two ints through the join.
    Measured sf0.1 (inside dedup_clusters): 2.09 s → see
    OPTIMIZATION_r18.md; exchanges of the exploded table 2 → 1."""
    if shingles is None:
        shingles = exploded_shingles(df, id_col, text_col, n)
    sh0 = shingles.toDF("id", "s")
    if not shingles_hashed:
        sh0 = sh0.select("id", F.xxhash64("s").alias("s"))
    sh = capped_shingles(df, id_col, text_col, n, max_doc_freq, shingles=sh0)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a").hint("shuffle_hash")
    b = sh.alias("b").hint("shuffle_hash")
    common = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("doc_a"), F.col("b.id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return (
        common.join(
            sizes.select(F.col("id").alias("doc_a"), F.col("n_sh").alias("na")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("id").alias("doc_b"), F.col("n_sh").alias("nb")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("common") / (F.col("na") + F.col("nb") - F.col("common")), 6
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def minhash_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    bands: int = 4,
    n: int = 3,
    fast: bool = False,
    shingles: DataFrame | None = None,
    shingles_hashed: bool = False,
) -> DataFrame:
    """LSH candidate pairs: docs agreeing on at least one band of their
    MinHash signature. rows_per_band = num_hashes/bands controls precision;
    shuffle carries (band_idx, band_value, id, packed signature).

    EMIT-ONCE (r18) — the near_dup_pairs_cosine_lsh layout applied to
    MinHash bands: each banded row carries the doc's full packed
    signature array, and a pair is emitted only from the FIRST band the
    two signatures agree on (a zip_with/exists prefix scan over the two
    arrays — cheap struct compares). A high-similarity pair colliding in
    many bands (the common case for true dups) used to be emitted once
    per colliding band and deduplicated by a full ``distinct`` over the
    pair set; now each qualifying pair exits the join exactly once and
    the distinct — a whole extra shuffle + aggregate over the candidate
    volume — disappears (guide §2.4). Cost: `bands` longs ride beside
    each banded row (128 bytes at 16×1), noise next to the removed
    exchange. The self-join is merge-hinted: a broadcast side would
    re-compute the whole signature aggregation subtree per side, while
    the shuffle join's two identical children collapse into ONE exchange
    (ReusedExchange) — the signatures are computed once. Measured inside
    the 16-band drop list at sf0.1: 2.87 s (broadcast+distinct) →
    1.21 s (merge+emit-once), candidate set identical."""
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes={num_hashes} not divisible by bands={bands}: "
            "trailing hashes would be silently dropped"
        )
    rows = num_hashes // bands
    # NULL-signature docs (no shingles) cannot meaningfully band: their
    # pairwise Jaccard is 0/0, so emitting them as candidates is wrong
    # and would divide by zero in a downstream verify
    sig = (
        minhash_signatures_agg(
            df, id_col=id_col, text_col=text_col, num_hashes=num_hashes,
            n=n, fast=fast, shingles=shingles,
            shingles_hashed=shingles_hashed,
        )
        .where(F.col("h0").isNotNull())
        .withColumnRenamed(id_col, "id")
    )
    # pack each band's hash rows into one comparable struct value —
    # exact equality, no positional arithmetic (v*P + h chains overflow
    # LongType for rows_per_band >= 3); the array of all bands rides
    # along for the emit-once prefix scan
    packed = F.array(
        *[
            F.struct(
                *[
                    F.col(f"h{bi * rows + r}").alias(f"r{r}")
                    for r in range(rows)
                ]
            )
            for bi in range(bands)
        ]
    )
    banded = sig.select("id", packed.alias("_sig")).select(
        "id", "_sig", F.posexplode("_sig").alias("band", "val")
    )
    a = banded.select(
        F.col("id").alias("doc_a"), F.col("_sig").alias("_sa"), "band", "val"
    ).hint("merge")
    b = banded.select(
        F.col("id").alias("doc_b"), F.col("_sig").alias("_sb"), "band", "val"
    ).hint("merge")
    # no earlier band where both signatures agree (band is 0-indexed, so
    # slice(_, 1, band) is exactly the strict prefix; signatures carry no
    # NULLs — h0-null docs were filtered above)
    first_match = ~F.exists(
        F.zip_with(
            F.slice("_sa", F.lit(1), F.col("band")),
            F.slice("_sb", F.lit(1), F.col("band")),
            lambda x, y: x == y,
        ),
        lambda v: v,
    )
    return (
        a.join(b, ["band", "val"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .where(first_match)
        .select("doc_a", "doc_b")
    )


def near_dup_drop_list(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    num_hashes: int = 8,
    bands: int = 4,
    n: int = 3,
    fast: bool = True,
    max_doc_freq: int | None = 1000,
    shingles: DataFrame | None = None,
    shingles_hashed: bool = False,
) -> DataFrame:
    """End-to-end near-dup dedup decision: MinHash-LSH candidates →
    exact-Jaccard verification → greedy keep-lowest-id. Returns the DROP
    list (ids to remove); anti-join it against the corpus to dedup:

        df.join(near_dup_drop_list(df), on="doc_id", how="left_anti")

    Greedy rule: a doc is dropped if it's the higher id in ANY verified
    pair. (Chain transitivity — a~b, b~c, a!~c — still drops b and c;
    the survivor set is duplicate-free but may over-drop relative to full
    connected-components clustering, the standard trade at corpus scale.)

    Verification Jaccard runs over the hot-shingle-capped shingle space
    (see `capped_shingles`) so the verify join cannot blow up on a
    stop-phrase gram either.

    ``shingles`` lets a caller that manages cache lifecycle supply ONE
    persisted (id, shingle) table for both the signature pass and the
    verify pass; with ``shingles_hashed=True`` its shingle column holds
    xxhash64(string) longs (the narrow production layout — 8-byte keys
    through every downstream shuffle, identical signatures and
    hash-invariant Jaccard) (fast path only — the portable path derives signatures
    from word-composed folds, not shingle strings). With an
    already-materialized cache the whole operator runs ~2× faster at
    sf0.1; WITHOUT caller-side persistence sharing is a loss, not a win
    (measured 3.4s vs 2.1s steady-state): a persist created inside this
    function caches into a plan used exactly once per pass, so every
    invocation pays the cache write + read on top of the explode it was
    meant to save. Hence no internal persist — the default recomputes
    the explode per pass, which Catalyst pipelines into each side's
    shuffle map stage.
    """
    # the verify embeds the threshold as CAST('<repr>' AS DOUBLE) (one
    # parse); a Decimal or numpy scalar reprs to a non-numeric string
    # and fails under ANSI cast where F.lit() accepted it (r18 ADVICE)
    # — coerce up front so any numeric type round-trips exactly
    threshold = float(threshold)
    if fast:
        # UNIFIED single-subtree pipeline (r18, guide §2.4): signatures,
        # band keys and the verify arrays all derive from ONE pass over
        # the capped hashed shingle table.
        #
        # - Signatures run over the CAPPED shingle space (previously
        #   uncapped): fixture-inert (no fixture shingle exceeds the
        #   cap — the uncapped DuckDB oracle stays exact) and MORE
        #   consistent at scale, since band-collision probability then
        #   tracks the same capped Jaccard the verify (and the oracle
        #   contract) measures. It also erases the separate signature
        #   subtree: one groupBy(id) computes the per-doc shingle array
        #   AND the num_hashes mins together.
        # - Each banded row carries (signature array, shingle array), so
        #   a pair exiting the emit-once band join already holds both
        #   docs' arrays: Jaccard verifies INLINE — no candidate
        #   re-shuffle, no arrs attach joins, no pair aggregate.
        #   Executed-plan exchanges: cap window (s) + per-doc aggregate
        #   (id) + band self-join (reused — one exchange) + final
        #   distinct, vs seven in the split layout. Measured sf0.1:
        #   8-band 1.43 s → 0.94 s, 16-band ~2.2 s → 1.17 s, drop
        #   lists identical (and oracle-exact at sf0.001/0.01).
        # - The trade (guide §2.3): the band exchange widens by the
        #   per-doc arrays (~bands × doc-shingle-count longs) in
        #   exchange for dropping two joins + two exchanges over the
        #   candidate volume. Per-task memory stays bounded by one
        #   doc's array — doc length, not corpus.
        if num_hashes % bands != 0:
            raise ValueError(
                f"num_hashes={num_hashes} not divisible by bands={bands}: "
                "band boundaries would split hash rows"
            )
        rows = num_hashes // bands
        sh0 = shingles if shingles is not None else exploded_shingles(
            df, id_col, text_col, n
        )
        sh0 = sh0.toDF("id", "s")
        if not shingles_hashed:
            # hash AFTER nothing — the cap below runs on these longs,
            # the same accepted hashed-cap semantics as the shared cache
            sh0 = sh0.select("id", F.xxhash64("s").alias("s"))
        capped = capped_shingles(df, id_col, text_col, n, max_doc_freq,
                                 shingles=sh0)
        # agg + band-pack expressions built as F.expr STRINGS, one
        # JVM parse each, instead of ~8 py4j round trips per Column op
        # (r18; profiled ~0.45 s of pure driver-side builder time per
        # 16-hash call — the bench times builder()+collect(), and at
        # any scale this is dead driver latency per job submission).
        # The parsed trees are the same expressions: pmod/*/+/% on the
        # same int literals, named_struct mirroring F.struct aliases.
        aggs = [F.expr("collect_list(s) AS _arr")]
        for j in range(num_hashes):
            a_, b_ = _seed(j)
            aggs.append(
                F.expr(
                    f"min((pmod(s, {POLY_MOD}) * {a_} + {b_}) % "
                    f"{POLY_MOD}) AS h{j}"
                )
            )
        per_doc = capped.groupBy("id").agg(*aggs)
        packed = F.expr(
            "array("
            + ", ".join(
                "named_struct("
                + ", ".join(
                    f"'r{r}', h{bi * rows + r}" for r in range(rows)
                )
                + ")"
                for bi in range(bands)
            )
            + ")"
        )
        banded = per_doc.select(
            "id", "_arr", packed.alias("_sig")
        ).selectExpr("id", "_arr", "_sig", "posexplode(_sig) AS (band, val)")
        # rename/emit-once/verify projections as single selectExpr/expr
        # parses (r18, same recipe): ~420 Column-op round trips per
        # build collapsed into three JVM parses. Same trees: slice with
        # int literal 1, zip_with equality lambda, size/array_intersect
        # Jaccard with the threshold round-tripped exactly via
        # CAST('<repr>' AS DOUBLE).
        a = banded.selectExpr(
            "id AS doc_a", "_sig AS _sa", "_arr AS _aa", "band", "val"
        ).hint("shuffle_hash")
        b = banded.selectExpr(
            "id AS doc_b", "_sig AS _sb", "_arr AS _ab", "band", "val"
        ).hint("shuffle_hash")
        first_match = F.expr(
            "NOT exists(zip_with(slice(_sa, 1, band), slice(_sb, 1, band), "
            "(x, y) -> x = y), v -> v)"
        )
        jac_ok = F.expr(
            "size(array_intersect(_aa, _ab)) / (size(_aa) + size(_ab) - "
            "size(array_intersect(_aa, _ab))) >= "
            f"CAST('{threshold!r}' AS DOUBLE)"
        )
        verified = (
            a.join(b, ["band", "val"])
            .where(F.col("doc_a") < F.col("doc_b"))
            .where(first_match)
            .where(jac_ok)
        )
        return verified.select(F.col("doc_b").alias(id_col)).distinct()

    # Portable-hash path (fast=False): LSH candidates from word-composed
    # poly folds, then the array-based verify over capped string shingles
    # hashed to longs at the end (hash-invariant counts — guide §2.3).
    cands = minhash_candidate_pairs(
        df, id_col=id_col, text_col=text_col,
        num_hashes=num_hashes, bands=bands, n=n, fast=False,
    )
    sh = capped_shingles(df, id_col, text_col, n, max_doc_freq)
    sh = sh.select("id", F.xxhash64("s").alias("s"))
    arrs = sh.groupBy("id").agg(F.collect_list("s").alias("_arr"))
    j = cands.join(
        arrs.select(F.col("id").alias("doc_a"), F.col("_arr").alias("_aa")),
        "doc_a",
    ).join(
        arrs.select(F.col("id").alias("doc_b"), F.col("_arr").alias("_ab")),
        "doc_b",
    )
    common = F.size(F.array_intersect("_aa", "_ab"))
    na, nb = F.size("_aa"), F.size("_ab")
    verified = j.where(common / (na + nb - common) >= F.lit(threshold))
    return verified.select(F.col("doc_b").alias(id_col)).distinct()


def streaming_exact_dedup(
    records: DataFrame,
    content_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "1 hour",
    fast: bool = True,
) -> DataFrame:
    """Exact dedup that works on a STREAM: first occurrence of each
    content hash passes, later duplicates are dropped. On a streaming
    frame this uses `dropDuplicatesWithinWatermark`, so dedup state is
    bounded by the watermark — the 100 TB/unbounded-time story; the Redis
    analogue in the reference never expires. On a batch frame it
    degrades to plain dropDuplicates over the hash (full-history dedup).

    The hash (xxhash64 fast path / portable poly_hash) is computed once
    and shuffled instead of the payload, same as `exact_dedup`."""
    h = (
        F.xxhash64(F.col(content_col))
        if fast
        else poly_hash(F.col(content_col))
    ).alias("_content_hash")
    hashed = records.select("*", h)
    if hashed.isStreaming:
        return hashed.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            ["_content_hash"]
        )
    # batch fallback: dropDuplicates keeps an ARBITRARY row per hash
    # (a first() aggregate over nondeterministic task order) — the
    # documented contract is "first occurrence passes", so pick the
    # min by (ts, full row) deterministically (review finding)
    cols = records.columns
    pick = F.min_by(
        F.struct(*[F.col(c) for c in cols]),
        F.struct(F.col(ts_col), *[F.col(c) for c in cols]),
    )
    return (
        hashed.groupBy("_content_hash")
        .agg(pick.alias("_r"))
        .select(*[F.col(f"_r.{c}").alias(c) for c in cols], "_content_hash")
    )


def simhash_agg(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
    n: int = 1,
    fast: bool = False,
) -> DataFrame:
    """SimHash fingerprints via explode + aggregated bit votes — the scale
    formulation (same pattern as `minhash_signatures_agg`): each shingle
    is hashed ONCE, the per-bit ±1 votes are `bits` conditional sums
    inside a single codegen'd HashAggregate with map-side combine, and
    the fingerprint packs in a final projection. The Column-level
    `simhash` re-evaluates the interpreted hash HOF once PER BIT (no
    subexpression elimination in interpreted higher-order functions) —
    measured 30× slower at sf0.1.

    Docs with no shingles (< n tokens) survive as one NULL-shingle row
    (explode_outer) whose NULL hash votes -1 on every bit → fingerprint
    0, matching the Column form's empty-array fold."""
    sh = exploded_shingles(df, id_col, text_col, n, outer=True)
    if fast:
        # keep NULL shingles NULL (xxhash64(NULL) would yield the seed).
        # RAW xxhash64 bits — no pmod: SimHash does no permutation
        # arithmetic, and folding into the prime field (< 2^30) would
        # zero bits 30+ of every shingle hash, leaving a "32-bit"
        # fingerprint with 30 effective bits (review finding). The
        # portable path keeps pmod by construction — its oracle mirrors
        # the same 30-bit field exactly.
        h = F.when(
            F.col("shingle").isNotNull(), F.xxhash64(F.col("shingle"))
        )
    else:
        h = poly_hash(F.col("shingle"))
    hashed = sh.select(id_col, h.alias("_h"))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("_h"), i).bitwiseAND(F.lit(1)) == 1, 1)
            .otherwise(-1)
        ).alias(f"_v{i}")
        for i in range(bits)
    ]
    voted = hashed.groupBy(id_col).agg(*votes)
    fp = F.lit(0).cast("long")
    for i in range(bits):
        fp = fp + F.when(F.col(f"_v{i}") > 0, F.lit(1 << i).cast("long")).otherwise(0)
    return voted.select(id_col, fp.alias("simhash32" if bits == 32 else "simhash"))


def simhash(text: Column, bits: int = 32, n: int = 1) -> Column:
    """SimHash fingerprint: per token-shingle hash, each output bit is the
    sign of the sum of ±1 votes across shingles (bit set in shingle hash →
    +1). Packed into a LONG. One number per doc — the cheapest near-dup
    key at scale; compare via hamming distance or prefix bands.

    Column-level convenience form. All `bits` vote counters accumulate
    in ONE fold over the shingle-hash list (array accumulator + index-
    aware transform), so the shingle hashing runs once per row — the
    earlier per-bit fold re-evaluated it `bits`× (interpreted HOFs get
    no subexpression elimination; measured 450 s vs 14 s at 50k docs).
    For corpus-scale fingerprinting still prefer `simhash_agg`, whose
    explode + conditional-sum HashAggregate is codegen'd."""
    hl = shingle_hashes(text, n)
    powers = F.array(*[F.lit(1 << i).cast("long") for i in range(bits)])
    # bit i of h set ⟺ h & 2^i != 0 — identical to (h >> i) & 1 == 1
    # for any two's-complement h, so the vote matches simhash_agg's
    votes = F.aggregate(
        hl,
        F.array_repeat(F.lit(0).cast("long"), bits),
        lambda acc, h: F.transform(
            acc,
            lambda v, i: v
            + F.when(
                h.bitwiseAND(F.element_at(powers, i + 1)) != 0, 1
            ).otherwise(-1),
        ),
    )
    packed = F.zip_with(
        votes,
        powers,
        lambda v, p: F.when(v > 0, p).otherwise(F.lit(0).cast("long")),
    )
    return F.aggregate(packed, F.lit(0).cast("long"), lambda a, x: a + x)


def connected_components(
    pairs: DataFrame,
    ids: DataFrame,
    id_col: str = "doc_id",
    pair_a: str = "doc_a",
    pair_b: str = "doc_b",
    max_iter: int = 25,
    driver_finish_max_edges: int = 4_000_000,
) -> DataFrame:
    """Connected components over a near-dup pair graph: every id labeled
    with the MINIMUM id reachable from it (`cluster_id`). Singletons label
    themselves. The principled alternative to `near_dup_drop_list`'s
    greedy rule: keep `cluster_id == doc_id` rows, drop the rest — no
    over-dropping on chains (a~b, b~c keeps a, drops b and c, never
    splits decisions across the chain).

    Two-phase, size-adaptive design. Phase 1 (always distributed):
    persist the pair set (so the expensive candidate/verify pipeline
    runs exactly once) and probe it with ONE bounded
    limit(max_edges+1).collect() job — the same driver-memory bound the
    previous count-then-collect enforced, one Spark job cheaper (r18).
    The near-dup edge set is orders of magnitude smaller than the
    corpus BY CONSTRUCTION (dup pairs are rare — that asymmetry is the
    whole point of dedup at 100 TB), so its size is cheap to learn and
    decides phase 2:

    - edges ≤ `driver_finish_max_edges` (default 4M ≈ 64 MB of id
      pairs): collect ONLY the edge list and finish with union-find on
      the driver — O(E α(E)) and microseconds at any size that fits the
      threshold. Every per-round Spark job the iterative formulation
      pays (shuffle join + agg + O(1)-row convergence count) costs
      ~0.3-0.5 s of pure scheduler overhead regardless of data volume;
      on the tiny subgraph those fixed costs dominate by 100×, and a
      bounded collect of the *already-reduced* edge set is not a
      driver-side loop over data — it's the standard hybrid cut
      (GraphFrames' CC similarly short-circuits small components).
    - larger: the large-star/small-star fixpoint (`_star_labels`
      below): O(log^2 n) rounds independent of graph diameter, and
      measured 3× faster than min-label propagation even on the
      diameter-1 clique graphs near-dup produces (20k nodes / 15k
      edges: 2.5 s vs 8.3 s — fewer, cheaper rounds).

    Both phases label ONLY edge-touched nodes: nodes in no pair can
    never change label, so they come back self-labeled through one
    final left join + coalesce against the collected/iterated label
    set.
    """
    # persist (NOT localCheckpoint: .rdd materialization compiles the
    # non-AQE plan — measured 2× slower; persist keeps the Catalyst plan
    # and AQE-coalesced partitioning) so the candidate/verify pipeline
    # runs exactly once; the bounded limit-probe below decides the phase
    # BEFORE any unbounded collect can happen
    und = pairs.select(
        F.col(pair_a).alias("src"), F.col(pair_b).alias("dst")
    ).persist()
    # ONE bounded probe job instead of count-then-collect (r18): pull at
    # most max_edges+1 rows — the same driver-memory bound the count
    # gate enforced (the transfer can never exceed the threshold by more
    # than one row), one Spark job cheaper. If the probe overflows, the
    # partial result is discarded and the persisted edge set feeds the
    # distributed phase untouched.
    probe = und.limit(driver_finish_max_edges + 1).collect()
    n_edges = len(probe)

    if n_edges <= driver_finish_max_edges:
        und.unpersist()
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for row in probe:
            a, b = row["src"], row["dst"]
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        comp_min: dict[int, int] = {}
        for node in parent:
            r = find(node)
            comp_min[r] = min(comp_min.get(r, node), node)
        spark = pairs.sparkSession
        # derive the schema from the edge column type: hardcoding long
        # made string/other id types crash ONLY below the driver-finish
        # threshold — a size-dependent failure (review finding)
        from pyspark.sql import types as T

        id_type = und.schema["src"].dataType
        # broadcast by construction: the probe bounded this label set at
        # driver_finish_max_edges edges (the driver already holds it in
        # Python dicts, which cost more than the broadcast relation).
        # Without the hint the createDataFrame relation carries no size
        # statistics, so the planner sort-merge-joined it — shuffling
        # the ENTIRE id scan (the corpus, at scale) to attach labels the
        # driver computed locally. BroadcastHashJoin removes both
        # exchanges and both sorts from the final join (guide §3.1).
        labels = F.broadcast(
            spark.createDataFrame(
                [(n, comp_min[find(n)]) for n in parent],
                T.StructType(
                    [
                        T.StructField("id", id_type),
                        T.StructField("label", id_type),
                    ]
                ),
            )
        )
    else:
        labels = _star_labels(und, max_iter=max_iter)
        und.unpersist()

    # untouched docs label themselves: one left join + coalesce over the
    # id scan (labels cover only edge-touched nodes and broadcast when
    # the driver path produced them)
    return (
        ids.select(F.col(id_col))
        .join(labels.withColumnRenamed("id", id_col), id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("label"), F.col(id_col)).alias("cluster_id"),
        )
    )


def _star_labels(raw_edges: DataFrame, max_iter: int) -> DataFrame:
    """Large-star/small-star fixpoint over a (src, dst) edge DF; returns
    (id, label) rows for every edge-touched node, label = component
    minimum — the distributed phase of `connected_components`.

    Large-star/small-star (Kiveris et al. 2014, "Connected Components
    in MapReduce and Beyond"): min-label propagation converges in
    O(diameter) rounds, fine for near-dup graphs (cliques, diameter
    ~1-2) but pathological on long chains; alternating large-star and
    small-star contracts every component to a star around its minimum
    node in O(log^2 n) rounds REGARDLESS of diameter, each round two
    shuffles (a per-node min aggregation and a distinct):

    - large-star: every node attaches its strictly-larger neighbors to
      m = min(self, neighbors) — edges only ever point "down", so the
      edge count never grows past the input.
    - small-star: orient each edge toward its larger endpoint, then
      every node attaches itself and its (all smaller) neighbors to its
      minimum neighbor.

    Convergence = the canonical (min, max) edge set reaches a fixed
    point, at which point every edge is (node -> component-min); those
    edges ARE the label map.

    Each round ends in an EAGER `localCheckpoint`: a star round
    references its input ~4x (symmetrize + min-join on both stars), so
    a lazy chain nests the plan exponentially and the analyzer itself
    becomes the bottleneck — materializing per round keeps every plan
    two-shuffles deep. The round count is O(log^2 n) by construction,
    so per-round convergence checks (count + subtract on checkpointed
    sets) stay cheap."""
    edges = (
        raw_edges.select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=False)
    )

    def large_star(e: DataFrame) -> DataFrame:
        sym = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        mins = sym.groupBy("src").agg(F.min("dst").alias("mn"))
        mins = mins.select("src", F.least("src", "mn").alias("m"))
        return (
            sym.join(mins, "src")
            .where(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .where(F.col("src") != F.col("dst"))
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        o = e.select(
            F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
        )
        mins = o.groupBy("src").agg(F.min("dst").alias("m"))
        return (
            o.join(mins, "src")
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .union(mins.select("src", F.col("m").alias("dst")))
            .where(F.col("src") != F.col("dst"))
            .distinct()
        )

    def canonical(e: DataFrame) -> DataFrame:
        return e.select(
            F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
        ).distinct()

    for _ in range(max_iter):
        new_edges = small_star(large_star(edges)).localCheckpoint()
        before, after = canonical(edges), canonical(new_edges)
        done = (
            after.count() == before.count()
            and after.subtract(before).limit(1).count() == 0
        )
        edges = new_edges
        if done:
            break

    # at the fixed point small_star's output is exactly (node -> root);
    # the min-agg is a no-op there (one edge per non-root node) but keeps
    # the label map single-valued if max_iter cut the loop short
    return edges.groupBy(F.col("src").alias("id")).agg(
        F.min("dst").alias("label")
    )


def cross_corpus_overlap(
    corpus: DataFrame,
    evalset: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing any word
    n-gram (8-gram is the common contract) with an evaluation set —
    the screen every training corpus runs so eval answers don't leak
    into the training data. Returns (id, n_hits) for contaminated docs
    only; anti-join the result against the corpus to clean it.

    Scale: both sides reduce to DISTINCT shingles before the join, so
    the join carries shingle keys, not documents. The corpus side is
    already distinct per doc (`exploded_shingles` applies array_distinct
    before the explode) — no extra shuffle to re-distinct it; only the
    eval side needs a cross-doc DISTINCT. A real eval set is
    constant-size (thousands of docs), so its shingle side broadcasts —
    left to the autoBroadcastJoinThreshold / AQE rather than pinned,
    since THIS query's fixture eval set scales with SF. For an adversarially
    repetitive corpus, compose with the same `max_doc_freq` hot-shingle
    cap used by `ngram_jaccard_pairs`.

    Both sides hash their shingles to xxhash64 longs before the
    distinct/join (r18; guide §2.3 — shuffle keys, not payloads): the
    eval-side distinct and the join exchange then carry 8 bytes per
    shingle instead of the n-word strings (~60 bytes at n=8).
    Hit counts are hash-invariant short of a corpus-shingle/eval-shingle
    xxhash64 collision (p ≈ n_corpus·n_eval/2⁶⁴) — the same accepted
    stance as `near_dup_drop_list`'s hashed verify join."""
    h = F.xxhash64("shingle").alias("shingle")
    c = exploded_shingles(corpus, id_col, text_col, n).select(id_col, h)
    e = (
        exploded_shingles(evalset, id_col, text_col, n)
        .select(h)
        .distinct()
    )
    return (
        c.join(e, "shingle")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
