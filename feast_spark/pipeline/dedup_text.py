"""Document deduplication at training-corpus scale.

Four families, all DataFrame-native (no per-row Python):

* **exact** — group by content fingerprint (md5 of normalized text).
  One hash-aggregate shuffle; at 100 TB this is the cheapest pass and
  typically removes the bulk of duplicates first.
* **n-gram Jaccard** — inverted-index self-join on word shingles:
  explode distinct shingles → join on shingle → count common → Jaccard.
  Exact (no false negatives); cost bounded by shingle-posting-list
  sizes. Drop ultra-frequent shingles (stopword shingles) before the
  join at scale — the ``max_doc_freq`` knob. Small vocabularies take a
  dense broadcast-matmul path with the same output.
* **MinHash + LSH** — per-doc signature of K minimum portable-hash
  values under K affine permutations, banded into B buckets; candidate
  pairs share a band bucket; candidates verified with exact Jaccard.
  Linear in corpus size; probabilistic recall (tunable via B×R).
* **SimHash** — 32-bit sign-random-projection over word hashes; near
  duplicates have small Hamming distance.

The pair finders run on the pair-search core in ``similarity.py``:
every candidate join is ``blocked_self_join`` (posting, band, segment)
and the dense n-gram path is ``dense_block_pairs``. One shingle-row
builder (``_shingle_rows``) feeds the posting index, the MinHash
signatures and the LSH verify sets. ``minhash_signatures`` and
``simhash`` add zero-shingle (zero-word) documents back as NULL rows;
the pair finders use the signature frames without them.

Plus span scrubbing — ExactSubstr dedup and benchmark decontamination
over words or token ids — as five front ends on one n-gram span core
(section at the end of this module).

The portable hash (text.portable_hash64) keeps signatures identical
across engines, so DuckDB can serve as an independent oracle for the
signature computation itself.

Caching note: the posting join persists its shingle postings and
``lsh_candidate_pairs`` its banded signatures, candidates and verify
sets — frames the RETURNED lazy plan still references, so they cannot
be unpersisted inside the function (the dense n-gram path collects
eagerly and drops its postings before returning). Of the span
operators, the two text-space dedup passes (``remove_duplicate_spans``,
``remove_duplicate_runs``) persist their gram stream the same way;
``simhash_pairs``, the id-space passes and both decontamination scrubs
persist nothing.
Blocks are MEMORY_AND_DISK and LRU-evictable; batch drivers running
many corpora per session should `spark.catalog.clearCache()` between
jobs (bench.py does).
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from feast_spark.pipeline.similarity import blocked_self_join, dense_block_pairs
from feast_spark.pipeline.text import (
    doc_fingerprint,
    normalize_text,
    portable_hash64,
    word_tokens,
)
from feast_spark.session import collect_bounded

MERSENNE31 = (1 << 31) - 1  # 2147483647, prime


def exact_dup_groups(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """One row per duplicate *group*: fingerprint, representative
    (min id), group size. Map-side-combinable aggregate — one shuffle."""
    return (
        df.select(F.col(id_col), doc_fingerprint(F.col(text_col)).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("representative"),
            F.count(F.lit(1)).alias("group_size"),
        )
    )


def exact_dedup_docs(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Keep one document (min id) per exact content group."""
    w = Window.partitionBy(doc_fingerprint(F.col(text_col))).orderBy(F.col(id_col))
    return (
        df.withColumn("__rn", F.row_number().over(w)).filter("__rn = 1").drop("__rn")
    )


def word_shingles(col: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of the normalized text.

    Edge semantics (mirrored exactly in the DuckDB oracles): texts with
    ≥ n words get the usual sliding n-grams; shorter non-empty texts get
    a single whole-text shingle; empty texts get an empty array (and no
    signature downstream).

    Physical form: overlapping n-grams come from ONE regexp_extract_all
    over the normalized text — a zero-width word-start anchor
    ``(?:(?<= )|^)`` plus a capturing lookahead of n space-separated
    words, so every word position emits its n-gram without consuming
    input. This stays in whole-stage codegen; the equivalent
    sequence+transform+slice array expression is CodegenFallback
    (interpreted per shingle) and measured 7.6x slower at sf0.1."""
    nt = normalize_text(col)
    pat = r"(?:(?<= )|^)(?=(" + r"\S+ " * (n - 1) + r"\S+))"
    words = F.filter(F.split(nt, " "), lambda x: x != "")
    nw = F.size(words)
    full = F.array_distinct(F.regexp_extract_all(nt, F.lit(pat), 1))
    single = F.array(F.concat_ws(" ", words))
    return (
        F.when(nw >= n, full)
        .when(nw > 0, single)
        .otherwise(F.array().cast("array<string>"))
    )


def _shingle_rows(
    df: DataFrame, id_col: str, text_col: str, n: int, hashed=F.xxhash64
) -> DataFrame:
    """``(id, shingle)``: one row per distinct word ``n``-gram of each
    document (``word_shingles``), the shingle hashed to a long by
    ``hashed``. Documents with no shingles have no rows."""
    return df.select(
        F.col(id_col).alias("id"),
        F.explode(word_shingles(F.col(text_col), n)).alias("__s"),
    ).select("id", hashed(F.col("__s")).alias("shingle"))


def _with_both_ids(pairs: DataFrame, per_id: DataFrame, col: str) -> DataFrame:
    """``pairs`` with ``per_id``'s ``col`` joined on for ``id_a`` and for
    ``id_b``, as ``<col>_a`` and ``<col>_b``."""
    for s in "ab":
        side = per_id.select(F.col("id").alias(f"id_{s}"), F.col(col).alias(f"{col}_{s}"))
        pairs = pairs.join(side, f"id_{s}")
    return pairs


def _jaccard(common: Column, size_a: Column, size_b: Column) -> Column:
    """``|A ∩ B| / |A ∪ B|`` from the intersection and set sizes, rounded
    to 6 digits."""
    return F.round(common / (size_a + size_b - common), 6)


# the dense n-gram path needs a vocabulary at most this large and a
# docs x vocab float32 incidence matrix at most this many bytes
GRAM_VOCAB_LIMIT = 20_000
DENSE_BUDGET_BYTES = 256 * 1024 * 1024


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact Jaccard-similar pairs via an inverted shingle index.

    Plan: explode shingles (flatMap, no shuffle) → optional hot-shingle
    pruning → ``blocked_self_join`` on shingle (hash shuffle on shingle)
    → pair-count aggregate → Jaccard filter. ``id_a < id_b`` cuts the
    symmetric half. At 100 TB set ``max_doc_freq`` to drop
    posting lists longer than ~1000 docs (stopword shingles produce
    quadratic pair blow-up while contributing nothing to precision).

    Adaptive dense path: when the distinct-shingle vocabulary is small
    (≤ ``GRAM_VOCAB_LIMIT``) AND the docs×vocab incidence matrix fits
    ``DENSE_BUDGET_BYTES`` (float32 cells — the gate is on BYTES, not
    vocab alone, so a 100 TB corpus of short/templated docs with a tiny
    vocabulary can NOT walk into an n_docs-sized driver collect), the
    posting join degenerates (every doc shares shingles with every
    other → |pairs| ≈ n²); the broadcast block scorer
    (``dense_block_pairs``: docs×vocab · vocab×docs, BLAS) computes the
    same exact intersection counts with O(corpus) Arrow traffic instead.
    Chosen automatically from one combined distinct count; over budget
    it falls back to the posting join regardless of vocabulary size, as
    it does when the dense collect finds more documents than fit.
    """
    # posting index on xxhash64(shingle): joining/shuffling 8-byte longs
    # instead of shingle strings measured ~1.6x faster on the pair-count
    # aggregation; a 64-bit collision would merge two shingles (P ~ n^2 /
    # 2^65 — negligible even at 10^9 distinct shingles)
    raw = _shingle_rows(df, id_col, text_col, n).persist()
    sh = raw
    if max_doc_freq:
        # hot-shingle pruning happens BEFORE sizes, the dense gate, and
        # the self-join, so every downstream quantity (|A|, |B|, |A∩B|,
        # dense or posting path) is computed over the SAME pruned shingle
        # space — sizes over unpruned sets with intersections over pruned
        # ones would systematically deflate Jaccard and silently drop
        # true near-duplicates
        hot = (
            raw.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_doc_freq)
            .select("shingle")
        )
        sh = raw.join(F.broadcast(hot), "shingle", "left_anti").persist()
    # routing probe: approx_count_distinct (HLL partial aggregate — one
    # cache-populating scan, ~KB shuffled) instead of exact countDistinct,
    # whose two-column expand + distinct shuffle cost a full extra pass
    # over the postings before the self-join even started (measured +4-8s
    # at sf0.1, VERDICT r02 #1). A routing heuristic doesn't need
    # exactness: estimates are inflated by the HLL error bound before the
    # gate compare so an undercount cannot sneak an over-budget matrix
    # into the dense path, and _jaccard_gram sizes its matrix from the
    # ACTUAL collected vocabulary, never from the estimate.
    _RSD = 0.02
    counts = sh.agg(
        F.approx_count_distinct("shingle", _RSD).alias("nv"),
        F.approx_count_distinct("id", _RSD).alias("nd"),
    ).first()
    margin = 1.0 + 4 * _RSD  # 4 sigma of HLL relative error
    n_vocab = int(counts["nv"] * margin)
    n_docs = int(counts["nd"] * margin)
    if n_vocab <= GRAM_VOCAB_LIMIT and n_docs * n_vocab * 4 <= DENSE_BUDGET_BYTES:
        out = _jaccard_gram(sh, threshold, DENSE_BUDGET_BYTES // (4 * max(n_vocab, 1)))
        if out is not None:
            # _jaccard_gram collects its input eagerly — the returned plan
            # only references the broadcast matrix, so the postings cache
            # can be dropped now (the posting-join path must keep it: the
            # caller's lazy plan still reads it)
            sh.unpersist()
            if sh is not raw:
                raw.unpersist()
            return out
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("size"))
    common = (
        blocked_self_join(sh, ["shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return (
        _with_both_ids(common, sizes, "size")
        .withColumn("jaccard", _jaccard(F.col("common"), F.col("size_a"), F.col("size_b")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _jaccard_gram(sh: DataFrame, threshold: float, max_docs: int) -> DataFrame | None:
    """Dense exact Jaccard for small shingle vocabularies: the doc×vocab
    0/1 incidence matrix goes through ``dense_block_pairs``. Exact — the
    same pairs as the posting join. The matrix is sized from the ACTUAL
    collected vocabulary (the routing gate's count is an HLL estimate —
    never an array bound). ``None`` when more than ``max_docs``
    documents have shingles."""
    docs = collect_bounded(sh.groupBy("id").agg(F.collect_list("shingle").alias("hs")), max_docs)
    if docs is None:
        return None
    hs = docs["hs"].combine_chunks()
    row = np.repeat(np.arange(len(hs)), np.diff(hs.offsets.to_numpy()))
    vocab, col = np.unique(hs.flatten().to_numpy(), return_inverse=True)
    mat = np.zeros((len(hs), len(vocab)), dtype=np.float32)
    mat[row, col] = 1.0
    return dense_block_pairs(
        sh.sparkSession, docs["id"].to_numpy(), mat, mat.sum(axis=1),
        sh.schema["id"].dataType, "jaccard", threshold,
    )


def _affine_params(k: int, seed: int = 1) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the K minhash permutations
    ``(a*h + b) mod p`` — fixed arithmetic progression keyed by seed so
    every engine/run agrees without RNG."""
    return [
        ((seed * 1000003 + i * 7919) % MERSENNE31 or 1, (seed * 999331 + i * 104729) % MERSENNE31)
        for i in range(k)
    ]


def _with_empty_docs(df: DataFrame, id_col: str, per_id: DataFrame) -> DataFrame:
    """``per_id`` plus a NULL-valued row for every document of ``df`` it
    lacks (documents with no shingles or no words)."""
    return df.select(F.col(id_col).alias("id")).distinct().join(per_id, "id", "left")


def _minhash(
    df: DataFrame, id_col: str, text_col: str, num_hashes: int, shingle_n: int, seed: int
) -> DataFrame:
    """``(id, signature)`` of every document with at least one shingle."""
    # explode + flat-column hashing + grouped min-aggregation: Spark's
    # higher-order array functions (transform/aggregate) are
    # CodegenFallback — interpreted per element — while the exploded
    # formulation keeps md5/conv/pmod inside whole-stage codegen and the
    # K mins are map-side-combinable partial aggregates (one shuffle on
    # id). Measured ~3x over the array-expression form.
    h = F.col("shingle")
    rows = _shingle_rows(
        df, id_col, text_col, shingle_n, lambda s: portable_hash64(s) % MERSENNE31
    )
    mins = [
        F.min((F.lit(a) * h + F.lit(b)) % MERSENNE31)
        for a, b in _affine_params(num_hashes, seed)
    ]
    return rows.groupBy("id").agg(F.array(*mins).alias("signature"))


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    shingle_n: int = 3,
    seed: int = 1,
) -> DataFrame:
    """Per-doc MinHash signature: ``sig[i] = min over shingles of
    ((a_i * (h(shingle) mod p) + b_i) mod p)``, h = portable md5 hash.
    Exploded shingle rows and one grouped min per permutation — one
    shuffle on id, whole-stage codegen. Docs with zero shingles get a
    NULL signature."""
    return _with_empty_docs(
        df, id_col, _minhash(df, id_col, text_col, num_hashes, shingle_n, seed)
    )


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.5,
    seed: int = 1,
    verify: bool = True,
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs.

    Bands of R = num_hashes/bands rows are hashed to buckets; docs
    sharing any band bucket become candidates (``blocked_self_join`` on
    (band, bucket)); candidates are verified with exact Jaccard when
    ``verify`` (recommended — LSH alone has false positives). Shuffle
    profile: one explode-join on (band, bucket) whose cost is Σ bucket²
    — bounded because buckets are 64-bit hashes of R-element signature
    slices. Docs with zero shingles have no signature and pair with
    nothing.
    """
    if num_hashes % bands:
        raise ValueError("bands must divide num_hashes")
    r = num_hashes // bands
    sig = F.col("signature")
    # persist the BANDED frame (both sides of the self-join scan it) so
    # neither the md5 signature pipeline nor the per-band bucket hashes
    # are computed twice
    banded = _minhash(df, id_col, text_col, num_hashes, shingle_n, seed).select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(F.concat_ws(",", *[sig[b * r + i] for i in range(r)])).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket").persist()
    cand = blocked_self_join(banded, ["band", "bucket"]).select("id_a", "id_b").distinct()
    if not verify:
        return cand
    # verify only needs shingle sets for docs that appear in a candidate
    # pair — semi-join first so shingle-set construction runs on
    # |candidates| docs, not the whole corpus. Sets are built as
    # xxhash64 LONGS via explode + collect_set (the hash stays in
    # whole-stage codegen; Jaccard over hashed shingles equals Jaccard
    # over the strings — a 64-bit collision inside one candidate pair's
    # union is ~|union|²/2^65) — measured ~2.5x over joining the raw
    # string-array shingles through the verify stage.
    cand = cand.persist()
    cand_ids = (
        cand.select(F.col("id_a").alias("id"))
        .union(cand.select(F.col("id_b").alias("id")))
        .distinct()
    )
    docs_needed = df.join(
        F.broadcast(cand_ids), df[id_col] == cand_ids["id"], "left_semi"
    )
    sets = (
        _shingle_rows(docs_needed, id_col, text_col, shingle_n)
        .groupBy("id")
        .agg(F.collect_set("shingle").alias("sh"))
        .persist()  # joined twice in the verify stage
    )
    a, b = F.col("sh_a"), F.col("sh_b")
    inter = F.size(F.array_intersect(a, b))
    return (
        _with_both_ids(cand, sets, "sh")
        .withColumn("jaccard", _jaccard(inter, F.size(a), F.size(b)))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _simhash(df: DataFrame, id_col: str, text_col: str, bits: int) -> DataFrame:
    """``(id, simhash)`` of every document with at least one word."""
    words = F.filter(F.split(normalize_text(F.col(text_col)), " "), lambda x: x != "")
    # explode + codegen bit-sums (see _minhash: array higher-order fns
    # are interpreted; exploded per-word rows keep the md5 hash and the
    # conditional sums in whole-stage codegen with map-side partial
    # aggregation)
    exploded = df.select(
        F.col(id_col).alias("id"), F.explode(words).alias("__w")
    ).select("id", portable_hash64(F.col("__w")).alias("__h"))
    sums = exploded.groupBy("id").agg(
        *[
            F.sum(
                F.when(F.shiftright("__h", i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"__b{i}")
            for i in range(bits)
        ]
    )
    val = F.lit(0).cast("long")
    for i in range(bits):
        val = val + F.when(
            F.col(f"__b{i}") > 0, F.lit(1 << i).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return sums.select("id", val.alias("simhash"))


def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
) -> DataFrame:
    """32-bit SimHash over word portable-hashes: bit i of the output is
    1 iff Σ_words (bit i of h(word) ? +1 : −1) > 0. Near-duplicates
    land within small Hamming distance. No Python; one shuffle on id.
    Docs with no words get a NULL simhash."""
    return _with_empty_docs(df, id_col, _simhash(df, id_col, text_col, bits))


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    bits: int = 32,
    blocks: int = 4,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ k, using the
    pigeonhole block trick: split the hash into ``blocks`` segments —
    any pair within distance k < blocks shares at least one exact
    segment, so candidates come from ``blocked_self_join`` on segments
    (linear index build, no all-pairs). ``max_hamming >= blocks`` voids
    that guarantee (a pair can differ in every segment) — rejected
    rather than silently returning an incomplete pair set."""
    if max_hamming >= blocks:
        raise ValueError(
            f"pigeonhole blocking needs max_hamming < blocks "
            f"(got max_hamming={max_hamming}, blocks={blocks}) — raise "
            "blocks to keep the no-false-negative guarantee"
        )
    seg_bits = bits // blocks
    mask = (1 << seg_bits) - 1
    seg = _simhash(df, id_col, text_col, bits).select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("block"),
                        F.shiftright("simhash", i * seg_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("segment"),
                    )
                    for i in range(blocks)
                ]
            )
        ).alias("s"),
    ).select("id", "simhash", "s.block", "s.segment")
    hamming = F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b")))
    # a pair sharing several segments is found once per segment
    return (
        blocked_self_join(seg, ["block", "segment"], ("simhash",))
        .select("id_a", "id_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# ---------------------------------------------------------------------------
# Span scrubbing: ExactSubstr dedup and span decontamination
# ---------------------------------------------------------------------------
# One core under five front ends. A front end builds the element array
# (whitespace words of the text, or the token-id array); the core makes
# every ``ngram``-element gram, marks grams (repeated in the corpus, or
# present in a benchmark) and scrubs the elements the marked grams cover.

_ELEMS = "__words"  # the one internal element column: words or ids
_WORD_SIZES = ("n_words", "n_removed_words")
_TOKEN_SIZES = ("n_tok_in", "n_removed_tokens")


def _check_span_args(ngram_name: str, ngram: int, min_count: int = 2) -> None:
    if ngram < 2:
        raise ValueError(f"{ngram_name} must be >= 2")
    if min_count < 2:
        raise ValueError("min_count must be >= 2 (1 would mark every span)")


def _span_base(df: DataFrame, elems: Column) -> DataFrame:
    """``df`` with the element array appended as ``__words``; an input
    already carrying an internal column is refused."""
    for c in (_ELEMS, "__starts", "__covered"):
        if c in df.columns:
            raise ValueError(f"input already has internal column {c!r}")
    return df.withColumn(_ELEMS, elems)


def _span_grams(base: DataFrame, id_col: str, ngram: int, sep: str) -> DataFrame:
    """(__id, pos, gh) for every ``ngram``-element window of ``__words``:
    gh is the portable 60-bit hash of the window's elements joined by
    ``sep`` (" " for words; "," for ids, so '1,23' ≠ '12,3'). Codegen
    throughout: the cast to ``array<string>`` is removed by the optimizer
    on words and is a codegen array cast on ids. Only the window slice is
    cast — casting the whole array before the explode would carry a
    string copy of it on every gram row. A 60-bit collision can mark an
    innocent span; at 10^12 grams expect ~10^-6 false marks."""
    n = F.size(_ELEMS)
    starts = F.when(n >= ngram, F.sequence(F.lit(0), n - ngram)).otherwise(
        F.array().cast("array<int>")
    )
    window = F.slice(_ELEMS, F.col("pos") + 1, ngram).cast("array<string>")
    return base.select(
        F.col(id_col).alias("__id"), F.explode(starts).alias("pos"), _ELEMS
    ).select("__id", "pos", portable_hash64(F.array_join(window, sep)).alias("gh"))


def _repeated_grams(grams: DataFrame, min_count: int, keep_first: bool) -> DataFrame:
    """(__id, pos) of every gram occurring ``min_count``+ times; with
    ``keep_first`` the smallest ``(__id, pos)`` occurrence of each is
    spared.

    Skew-proof: a map-side-combinable ``groupBy(gh)`` emits one partial
    row per distinct gram per map task, so a boilerplate gram occurring
    10^8 times costs its reduce task #map-tasks rows, never 10^8 (a
    window over ``gh`` serialized every occurrence onto one task). The
    repeated-gram dictionary then rejoins the gram stream: AQE makes that
    a broadcast-hash join when the dictionary is small and skew-splits
    the probe side otherwise (``spark.sql.adaptive.skewJoin``, on in
    ``session.get_spark``)."""
    aggs = [F.count(F.lit(1)).alias("c")]
    if keep_first:
        aggs.append(F.min(F.struct("__id", "pos")).alias("first"))
    stats = grams.groupBy("gh").agg(*aggs).filter(F.col("c") >= min_count)
    marked = grams.join(stats, "gh")
    if keep_first:
        marked = marked.filter(
            ~(
                (F.col("__id") == F.col("first.__id"))
                & (F.col("pos") == F.col("first.pos"))
            )
        )
    return marked.select("__id", "pos")


def _benchmark_grams(
    grams: DataFrame, benchmark: DataFrame, elems: Column, ngram: int, sep: str
) -> DataFrame:
    """(__id, pos) of every gram that also occurs in ``benchmark``
    (elements ``elems``). The benchmark's distinct gram hashes are
    broadcast, so the corpus is matched map-side and never shuffles on
    gram."""
    bench = benchmark.select(F.lit(0).alias("__id"), elems.alias(_ELEMS))
    hashes = _span_grams(bench, "__id", ngram, sep).select("gh").distinct()
    return grams.join(F.broadcast(hashes), "gh").select("__id", "pos")


def _span_scrub(
    base: DataFrame,
    marked: DataFrame,
    id_col: str,
    ngram: int,
    span_count_col: str,
    out_col: str,
    sizes: tuple[str, str],
) -> DataFrame:
    """Fold the marked gram starts per doc, expand them to covered
    element positions and append ``sizes[0]`` (element count),
    ``span_count_col`` (maximal merged removed intervals), ``sizes[1]``
    (removed elements) and ``out_col`` (the surviving elements, in
    order, as an array). The per-doc ``collect_list`` is bounded by the
    elements per doc (chunk pathological documents first, as for
    ``pack_sequences``) and is the epilogue's only shuffle; the rest is
    array HOFs."""
    count_col, removed_col = sizes
    per_doc = marked.groupBy("__id").agg(F.collect_list("pos").alias("__starts"))
    joined = base.join(per_doc, base[id_col] == per_doc["__id"], "left").drop("__id")
    covered = F.array_sort(
        F.array_distinct(
            F.flatten(
                F.transform(
                    F.coalesce("__starts", F.array().cast("array<int>")),
                    lambda s: F.sequence(s, s + ngram - 1),
                )
            )
        )
    )
    out = joined.withColumn("__covered", covered)
    cov = F.col("__covered")
    survivors = F.filter(_ELEMS, lambda w, i: ~F.array_contains(cov, i))
    return (
        out.withColumn(count_col, F.size(_ELEMS))
        .withColumn(
            span_count_col,
            F.size(
                F.filter(
                    cov,
                    # greatest(i, 1): element_at's index must never be 0
                    # even on the i == 0 branch — relying on Or short-
                    # circuiting would break under an optimizer rewrite
                    # (ADVICE r04). At i == 0 the left disjunct is true,
                    # so the (valid) element_at(cov, 1) value is ignored.
                    lambda p, i: (i == F.lit(0))
                    | (F.element_at(cov, F.greatest(i, F.lit(1))) != p - 1),
                )
            ),
        )
        .withColumn(removed_col, F.size("__covered"))
        .withColumn(out_col, survivors)
        .drop(_ELEMS, "__starts", "__covered")
    )


def remove_duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 8,
    min_count: int = 2,
    keep_first: bool = True,
    out_col: str = "text_deduped",
) -> DataFrame:
    """Span-level exact substring dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better", ExactSubstr): remove
    every ``ngram``-word span whose exact text occurs ``min_count``+
    times across the whole corpus. With ``keep_first`` (default) the
    occurrence with the lexicographically smallest ``(id, position)``
    is preserved, so one canonical copy of each repeated passage
    survives; ``keep_first=False`` scrubs all occurrences (the
    decontamination-style variant).

    No reference counterpart (the reference dedups at whole-row
    granularity only); this is the passage-level pass a training-data
    pipeline runs between exact-doc and near-dup dedup.

    Semantics (oracle-replayable, whitespace-normalizing): words are
    whitespace-split tokens of the text (``text.WORD_SPLIT``); a gram at 0-based word
    position ``i`` covers words ``[i, i+ngram)``; duplicated-gram
    occurrences mark their covered positions for removal; ``out_col``
    is the surviving words joined by single spaces. Appended columns:
    ``n_words``, ``n_dup_spans`` (maximal merged removed intervals),
    ``n_removed_words``, ``out_col``.

    Plan: the span core above (``_span_grams`` → ``_repeated_grams`` →
    ``_span_scrub``). The gram stream is persisted, so gram hashes are
    computed once and both the count aggregate and the rejoin read the
    cache (interleaved 5-run A/B at sf0.1, NOTES_ROUND5.md: persisted
    1.61 s, recomputed 2.57 s). It stays cached until
    ``spark.catalog.clearCache()`` or app end, like the other persisted
    intermediates of this module."""
    _check_span_args("ngram", ngram, min_count)
    base = _span_base(df, word_tokens(F.col(text_col)))
    grams = _span_grams(base, id_col, ngram, " ").persist()
    marked = _repeated_grams(grams, min_count, keep_first)
    out = _span_scrub(base, marked, id_col, ngram, "n_dup_spans", out_col, _WORD_SIZES)
    return out.withColumn(out_col, F.array_join(out_col, " "))


def remove_duplicate_runs(
    df: DataFrame,
    min_len: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 2,
    out_col: str = "text_deduped",
) -> DataFrame:
    """Minimum-length ExactSubstr (VERDICT r04 "What's missing" #3):
    remove every word that lies inside a MAXIMAL duplicated word run of
    length ≥ ``min_len`` — the threshold formulation of Lee et al.
    2022's suffix-array dedup (they remove byte substrings ≥ 50 tokens
    occurring ≥ 2 times; this operator is its word-granularity
    equivalent, and like their implementation it scrubs ALL occurrences
    rather than electing a keeper).

    This is EXACT, not an approximation, via cover equivalence:
    a position p is covered by some duplicated ``min_len``-window
    ⟺ p lies inside a duplicated run of length ≥ ``min_len``.
    (⇐ every ``min_len``-window of a duplicated run S occurs wherever
    S occurs, so the windows containing p are all duplicated;
    ⇒ a duplicated window containing p IS such a run.) Therefore
    fixed-gram cover marking at ``ngram = min_len`` with
    ``keep_first=False`` computes precisely the suffix-array
    formulation's removal set — no boundary drift. (With
    ``keep_first=True`` the per-GRAM keeper election approximates the
    per-RUN keeper, which is why ``remove_duplicate_spans`` documents
    approximate keeper semantics; scrub-all has no such gap.)

    Gram-hash cost grows linearly with ``min_len`` (each position
    hashes a ``min_len``-word slice — O(n·L) codegen work vs the
    suffix array's O(n log n), the trade for a 3-shuffle fully
    distributed plan); the plan is ``remove_duplicate_spans``'.
    Output columns: ``n_words``, ``n_dup_spans``, ``n_removed_words``,
    ``out_col``."""
    _check_span_args("min_len", min_len)
    return remove_duplicate_spans(
        df,
        text_col=text_col,
        id_col=id_col,
        ngram=min_len,
        min_count=min_count,
        keep_first=False,
        out_col=out_col,
    )


def remove_duplicate_token_runs(
    df: DataFrame,
    min_len: int = 16,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    min_count: int = 2,
    out_col: str = "tokens_deduped",
) -> DataFrame:
    """Ids-space min-length ExactSubstr: remove every token inside a
    duplicated id run of length ≥ ``min_len`` (≥ ``min_count``
    occurrences corpus-wide), ALL occurrences — the
    ``remove_duplicate_runs`` threshold semantics applied directly to
    the north-rule ``(doc_id, tokens:array<int>)`` shape, where the
    raw text is gone. This is in fact CLOSER to Lee et al. 2022 than
    the text-space variant: their suffix array runs over the tokenized
    byte stream, i.e. ids — and the cover equivalence (position
    covered by a duplicated ``min_len``-window ⟺ inside a duplicated
    run ≥ ``min_len``) makes the fixed-gram marking exact here too.

    Appended columns: ``n_tok_in``, ``n_dup_spans`` (maximal merged
    removed intervals), ``n_removed_tokens``, ``out_col`` (the
    scrubbed array — ids stay ids).

    Plan: the span core above, as ``remove_duplicate_runs``, except
    that the gram stream is not persisted: it is ``min_len``× the
    tokens and would stay cached."""
    _check_span_args("min_len", min_len, min_count)
    base = _span_base(df, F.col(tokens_col))
    marked = _repeated_grams(_span_grams(base, id_col, min_len, ","), min_count, False)
    return _span_scrub(base, marked, id_col, min_len, "n_dup_spans", out_col, _TOKEN_SIZES)


def scrub_contaminated_token_spans(
    df: DataFrame,
    benchmark: DataFrame,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    ngram: int = 8,
    bench_tokens_col: str | None = None,
    out_col: str = "tokens_clean",
) -> DataFrame:
    """Ids-space span-level benchmark decontamination (VERDICT r04
    "What's missing" #2): the ``scrub_contaminated_spans`` pass for a
    pipeline that stores only pre-tokenized id sequences — the
    north-rule ``(doc_id, tokens:array<int>, ...)`` shape — where the
    original text is gone and text-space scrubbing is impossible.
    Every ``ngram``-token window of a training document whose id
    sequence occurs anywhere in the (tokenized) benchmark set is
    removed; survivors keep their order.

    Appended columns: ``n_tok_in`` (input length), ``n_hit_spans``
    (maximal merged removed intervals), ``n_removed_tokens``,
    ``out_col`` (the scrubbed ``array`` itself — no re-join, ids stay
    ids).

    Plan: the span core above (``_span_grams`` → ``_benchmark_grams``
    → ``_span_scrub``). Tokenizer caveat: both sides must be tokenized
    with the SAME vocab/merges — a benchmark tokenized under a
    different vocab produces disjoint id n-grams and scrubs nothing
    (that property is inherent to ids-space matching, not a bug;
    decontaminate in text space when tokenizers differ).
    """
    _check_span_args("ngram", ngram)
    base = _span_base(df, F.col(tokens_col))
    bench_elems = F.col(bench_tokens_col or tokens_col)
    grams = _span_grams(base, id_col, ngram, ",")
    marked = _benchmark_grams(grams, benchmark, bench_elems, ngram, ",")
    return _span_scrub(base, marked, id_col, ngram, "n_hit_spans", out_col, _TOKEN_SIZES)


def scrub_contaminated_spans(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 8,
    bench_text_col: str | None = None,
    out_col: str = "text_clean",
) -> DataFrame:
    """Span-level benchmark decontamination: remove every ``ngram``-word
    window of a training document whose exact text occurs anywhere in
    the benchmark/eval set — the surgical counterpart to
    ``text.decontaminate`` (which flags whole documents). Dropping whole
    documents over one quoted benchmark sentence wastes data at corpus
    scale; scrubbing just the overlapping spans keeps the rest
    (the ExactSubstr-style pass applied to decontamination).

    Same word/span semantics as ``remove_duplicate_spans`` (trimmed
    whitespace-split words, a gram at word position ``i`` covers
    ``[i, i+ngram)``, covered positions are removed, survivors re-join
    with single spaces). Appended columns: ``n_words``,
    ``n_hit_spans`` (maximal merged removed intervals),
    ``n_removed_words``, ``out_col``.

    Plan: the span core above (``_span_grams`` → ``_benchmark_grams``
    → ``_span_scrub``); the gram stream is not persisted.
    """
    _check_span_args("ngram", ngram)
    base = _span_base(df, word_tokens(F.col(text_col)))
    bench_elems = word_tokens(F.col(bench_text_col or text_col))
    grams = _span_grams(base, id_col, ngram, " ")
    marked = _benchmark_grams(grams, benchmark, bench_elems, ngram, " ")
    out = _span_scrub(base, marked, id_col, ngram, "n_hit_spans", out_col, _WORD_SIZES)
    return out.withColumn(out_col, F.array_join(out_col, " "))
