"""Text-analysis operators for large-scale training-data pipelines.

These run over the crawl's extracted-text output (the ``documents`` shape:
``doc_id, text, lang, source, n_chars``) and are built ENTIRELY from native
``pyspark.sql.functions`` expressions — no Python in the hot path, full
whole-stage codegen, and every operator has a 1:1 ANSI-SQL oracle
(see __spark_entry__.oracle_sql) so DuckDB can verify values bit-for-bit.

Operators:
- language_id     — stopword-marker n-gram heuristic (en/de/fr/es)
- quality_score   — length/punctuation/stopword/uppercase signals
- token_count     — whitespace tokens + a BPE-ish regex token count
- fingerprint     — whitespace-normalized md5 document fingerprint
- exact_dup_groups— hash-groupBy exact dedup
- ngram_shingles  — word k-shingles (for minhash/jaccard)

Scale notes: everything is embarrassingly parallel per row except the dedup
groupBys, which shuffle on the hash/fingerprint — a near-uniform key, so no
skew handling needed; AQE coalesces small partitions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# marker stopwords per language; chosen to be mutually rare across the others
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "und", "nicht", "das"],
    "fr": ["le", "les", "des", "est", "une"],
    "es": ["el", "los", "las", "es", "una"],
}
# deterministic priority for ties (argmax order)
LANG_ORDER = ["en", "de", "fr", "es"]


def words_of(text_col: Column) -> Column:
    """Lowercased whitespace tokens (empty strings filtered)."""
    return F.filter(
        F.split(F.lower(text_col), r"\s+"), lambda w: F.length(w) > 0
    )


def marker_hits(text_col: Column, markers: list[str]) -> Column:
    """How many tokens are in the marker set."""
    w = words_of(text_col)
    arr = F.array(*[F.lit(m) for m in markers])
    return F.size(F.filter(w, lambda t: F.array_contains(arr, t) | F.lit(False)))


def language_id(text_col: Column) -> Column:
    """Best-scoring language by marker-stopword hits; 'und' if no hits.

    Ties break by LANG_ORDER (deterministic, mirrored in the SQL oracle).

    Shape note (r7 optimization, guide §4.1/§7.2): the previous
    greatest + CASE-WHEN chain referenced every per-language score up to
    three times (in `greatest`, in each WHEN predicate), and Catalyst's
    subexpression elimination does not fold subexpressions that appear
    only in *some* CASE branches — each reference re-ran the full
    lower+split+filter pipeline over the document. This argmax form
    evaluates each score exactly once inside ONE array constructor
    (array_max = greatest, array_position's first-match = the LANG_ORDER
    tie-break), same result, ~n_langs× less text work per row."""
    scores = [marker_hits(text_col, LANG_MARKERS[l]) for l in LANG_ORDER]
    arr = F.array(*scores)
    best = F.array_max(arr)
    idx = F.array_position(arr, best)
    langs = F.array(*[F.lit(l) for l in LANG_ORDER])
    # NULL text → NULL scores → NULL best: the old CASE chain fell through
    # every WHEN to otherwise('und'); keep that exact policy explicit.
    return F.when(best.isNull() | (best <= 0), F.lit("und")).otherwise(
        F.element_at(langs, idx.cast("int"))
    )


def n_words(text_col: Column) -> Column:
    return F.size(words_of(text_col))


def stopword_ratio(text_col: Column, lang: str = "en") -> Column:
    w = n_words(text_col)
    return F.when(w > 0, marker_hits(text_col, LANG_MARKERS[lang]) / w).otherwise(
        F.lit(0.0)
    )


def punct_ratio(text_col: Column) -> Column:
    # count matches instead of materializing the stripped string
    # (regexp_replace allocated a full copy of every document just to take
    # its length); regexp_count over the same single-char class yields the
    # identical n - stripped value.
    n = F.length(text_col)
    n_punct = F.regexp_count(text_col, F.lit(r"[^\w\s]"))
    return F.when(n > 0, n_punct / n).otherwise(F.lit(0.0))


def upper_ratio(text_col: Column) -> Column:
    # translate() drops chars with a plain lookup table — no regex engine,
    # no result-string scan per char class; count = length delta, identical
    # to the old regexp_replace('[A-Z]') formulation.
    n = F.length(text_col)
    uppers = n - F.length(
        F.translate(text_col, "ABCDEFGHIJKLMNOPQRSTUVWXYZ", "")
    )
    return F.when(n > 0, uppers / n).otherwise(F.lit(0.0))


def quality_score(text_col: Column) -> Column:
    """Heuristic [0,1] quality: length band + stopword presence − noise.

    score = 0.3·len_ok + 0.3·min(1, 5·stopword_ratio)
          + 0.2·(1 − min(1, 3·punct_ratio)) + 0.2·(1 − min(1, 3·upper_ratio))
    where len_ok = 1 if 20 ≤ n_words ≤ 10000 else n_words/20 (short) / 0 (…).
    """
    w = n_words(text_col)
    len_ok = (
        F.when((w >= 20) & (w <= 10000), F.lit(1.0))
        .when(w < 20, w / F.lit(20.0))
        .otherwise(F.lit(0.0))
    )
    sw = F.least(F.lit(1.0), stopword_ratio(text_col) * 5)
    pr = F.lit(1.0) - F.least(F.lit(1.0), punct_ratio(text_col) * 3)
    ur = F.lit(1.0) - F.least(F.lit(1.0), upper_ratio(text_col) * 3)
    return F.round(0.3 * len_ok + 0.3 * sw + 0.2 * pr + 0.2 * ur, 4)


# BPE-ish pre-tokenization: letter runs, digit runs, single non-space symbols
# (the GPT-2-style contraction-free subset; same pattern runs in RE2/DuckDB).
TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def token_count(text_col: Column) -> Column:
    # regexp_count = size(regexp_extract_all(...)) without materializing the
    # match array (same leftmost non-overlapping scan, same counts).
    return F.regexp_count(text_col, F.lit(TOKEN_PATTERN))


def normalized_text(text_col: Column) -> Column:
    """Lowercase + whitespace-fold + trim (the fingerprint preimage)."""
    return F.trim(F.regexp_replace(F.lower(text_col), r"\s+", " "))


def fingerprint(text_col: Column) -> Column:
    """Deterministic document fingerprint: md5 of normalized text.

    md5 (not xxhash) so the DuckDB oracle produces identical hex strings.
    """
    return F.md5(normalized_text(text_col))


def exact_dup_groups(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact near-identical-document groups: hash-groupBy on the fingerprint.

    Returns (fp, n_docs, doc_ids sorted) for groups with n_docs > 1 —
    the hash-groupBy exact-dedup primitive.
    """
    return (
        docs.select(F.col("doc_id"), fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(
            F.count("*").alias("n_docs"),
            F.sort_array(F.collect_list("doc_id")).alias("doc_ids"),
        )
        .filter(F.col("n_docs") > 1)
    )


def _shingle_structs(text_col: Column, k: int) -> Column:
    """array<struct> of word k-windows: element i = (w_i, w_{i+1}, …,
    w_{i+k-1}), built from NATIVE arrays_zip + slice only (no per-element
    lambda). Shorter-than-k documents (and NULL/empty text) yield one
    struct padded with NULLs — concat_ws skips NULLs, reproducing the old
    degenerate whole-text shingle exactly."""
    w = F.coalesce(F.split(normalized_text(text_col), " "), F.array(F.lit("")))
    n = F.size(w)
    zin = [w.alias("a0")] + [
        F.slice(w, j + 1, F.greatest(n - j, F.lit(0))).alias(f"a{j}")
        for j in range(1, k)
    ]
    return F.slice(F.arrays_zip(*zin), 1, F.greatest(n - k + 1, F.lit(1)))


def _shingle_of(s: Column, k: int) -> Column:
    """k-window struct → 'w_i w_{i+1} … ' shingle string (NULL-skipping)."""
    return F.concat_ws(" ", *[s[f"a{j}"] for j in range(k)])


def ngram_shingles(text_col: Column, k: int = 3) -> Column:
    """Word k-shingles of the normalized text (array<string>).

    r7 shape: the old transform(sequence(0, n-k), i -> concat_ws(slice(w,
    i+1, k))) spent ~11µs per shingle in interpreted higher-order-function
    evaluation (slice allocates a fresh array per element). The window
    structs now come from native arrays_zip+slice; the remaining lambda
    only concatenates three bound struct fields. Byte-identical output
    (edge cases incl. NULL/empty/short text verified against the old
    form). Duplicate shingles are preserved (set-ness is applied by the
    consumer where needed)."""
    return F.transform(
        _shingle_structs(text_col, k), lambda s: _shingle_of(s, k)
    )


def shingle_rows(
    docs: DataFrame, text_col: str, k: int, id_col: str = "doc_id"
) -> DataFrame:
    """(id, pos, sh): exploded word k-shingles with their 0-based position —
    the FULLY codegen'd path (no higher-order lambda at all): the struct
    array explodes and the shingle string is concatenated in the flat
    projection above the Generate. Same rows as
    posexplode(ngram_shingles(...))."""
    return docs.select(
        F.col(id_col),
        F.posexplode(_shingle_structs(F.col(text_col), k)).alias("pos", "_s"),
    ).select(
        id_col, "pos", _shingle_of(F.col("_s"), k).alias("sh")
    )


def minhash_signature(text_col: Column, n_hashes: int = 16, k: int = 3) -> Column:
    """MinHash signature: per seed, the lexicographic min of md5(seed‖shingle).

    md5-based so the oracle can reproduce the exact signature; at cluster
    scale swap md5 for xxhash64 (cheaper) — the LSH algebra is unchanged.
    Returns array<string> of length n_hashes.
    """
    sh = ngram_shingles(text_col, k)

    def hasher(seed: int):
        # NB: the lambda must be unary — Spark passes the array index as a
        # second argument to binary lambdas, which would clobber the seed.
        return lambda s: F.md5(F.concat(F.lit(f"{seed}:"), s))

    return F.array(
        *[F.array_min(F.transform(sh, hasher(i))) for i in range(n_hashes)]
    )


def minhash_signatures_flat(
    docs: DataFrame,
    text_col: str = "text",
    n_hashes: int = 16,
    k: int = 3,
    hash_fn: str = "md5",
) -> DataFrame:
    """MinHash signatures, scalable formulation: explode shingles → flat hash
    columns → groupBy(doc_id).agg(min…).

    Produces exactly the same values as ``minhash_signature`` (same md5 over
    the same shingles) but as one row of ``h0..h{n-1}`` columns. This shape
    matters twice: (a) flat expressions stay inside whole-stage codegen —
    the nested array(array_min(transform(...))×n) tree falls back to
    interpreted eval and is ~30× slower; (b) the aggregation gets map-side
    partial min combining, so at 10^10 docs the shuffle carries one partial
    signature per (partition, doc), not the shingle stream.

    ``hash_fn``: 'md5' (default) is DuckDB-oracle-reproducible; 'xxhash64'
    is the SCALE mode — one 64-bit JVM hash per (seed, shingle) instead of
    a full md5 over a string concat, same LSH algebra.
    """
    # shingle_rows: the zero-lambda exploded shingle path (r7) — same rows
    # as explode(ngram_shingles(...)), ~6× cheaper per shingle.
    ex = shingle_rows(docs, text_col, k).select("doc_id", "sh")
    if hash_fn == "xxhash64":
        hcols = [
            F.xxhash64(F.lit(i), F.col("sh")).alias(f"h{i}")
            for i in range(n_hashes)
        ]
    elif hash_fn == "md5":
        hcols = [
            F.md5(F.concat(F.lit(f"{i}:"), F.col("sh"))).alias(f"h{i}")
            for i in range(n_hashes)
        ]
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    hashed = ex.select("doc_id", *hcols)
    return hashed.groupBy("doc_id").agg(
        *[F.min(f"h{i}").alias(f"h{i}") for i in range(n_hashes)]
    )


def minhash_candidate_pairs(
    docs: DataFrame,
    text_col: str = "text",
    n_hashes: int = 16,
    n_bands: int = 4,
    k: int = 3,
    hash_fn: str = "md5",
) -> DataFrame:
    """MinHash+LSH near-dup candidates: shingle → minhash → band → bucket join.

    Returns distinct (doc_a, doc_b) with doc_a < doc_b that collide in ≥1
    band. The self-join shuffles on the band key only (bucket join); at
    10^10 docs the band tables are bucketed by band_key so the join is
    storage-partitioned. ``hash_fn='xxhash64'`` is the scale mode (64-bit
    JVM hashes end to end); 'md5' stays oracle-reproducible.
    """
    rows = n_hashes // n_bands
    sigs = minhash_signatures_flat(docs, text_col, n_hashes, k, hash_fn)
    if hash_fn == "xxhash64":
        band_cols = [
            F.xxhash64(
                *[F.col(f"h{b * rows + r}") for r in range(rows)]
            ).alias(f"b{b}")
            for b in range(n_bands)
        ]
    else:
        band_cols = [
            F.md5(
                F.concat_ws(
                    "|", *[F.col(f"h{b * rows + r}") for r in range(rows)]
                )
            ).alias(f"b{b}")
            for b in range(n_bands)
        ]
    banded = (
        sigs.select("doc_id", *band_cols)
        .unpivot("doc_id", [f"b{b}" for b in range(n_bands)], "band_idx", "band_key")
        # eager localCheckpoint, not persist: the self-join's two exchange
        # stages materialize CONCURRENTLY under AQE, and a lazily-persisted
        # subtree then races both stages through the full signature
        # computation (explode+hash+agg run twice). One materialization
        # here; the join reads the checkpointed blocks; they are GC-cleaned
        # with the frame (r7). Tiny: n_bands rows per doc.
        .localCheckpoint(eager=True)
    )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def jaccard_pairs(
    docs: DataFrame, pairs: DataFrame, text_col: str = "text", k: int = 3
) -> DataFrame:
    """Exact k-shingle Jaccard for candidate (doc_a, doc_b) pairs.

    Native exprs: array_intersect/array_union over distinct shingle sets.
    Output jaccard rounded to 4dp for oracle-stable comparison.
    """
    sh = docs.select(
        F.col("doc_id"),
        F.array_distinct(ngram_shingles(F.col(text_col), k)).alias("sh"),
    )
    a = sh.alias("sa")
    b = sh.alias("sb")
    return (
        pairs.join(a, pairs["doc_a"] == F.col("sa.doc_id"))
        .join(b, pairs["doc_b"] == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.size(F.array_intersect("sa.sh", "sb.sh"))
                / F.size(F.array_union("sa.sh", "sb.sh")),
                4,
            ).alias("jaccard"),
        )
    )


# --------------------------------------------------------------------------
# SimHash — 64-bit, md5-derived so it is oracle-reproducible


def simhash64_slow_colexpr(text_col: Column, k: int = 1) -> Column:
    """64-bit SimHash as a single Column expression — DEMOTED: the nested
    higher-order-function tree falls out of whole-stage codegen and measures
    ~30× slower than ``simhash64_flat``. Kept only as the executable spec
    the flat variant is tested against; every real caller must use
    ``simhash64_flat``.

    Each token hashes to 64 bits (first 16 hex chars of md5 → bigint via
    conv); bit b contributes +1/−1 to an accumulator; the sign vector is the
    fingerprint.
    """
    toks = F.array_distinct(F.split(normalized_text(text_col), " "))
    h = F.transform(
        toks, lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")
    )
    n = F.size(h)
    def bit_test(b: int):
        # unary lambda: Spark passes the array index to binary lambdas
        return lambda v: (F.shiftright(v, b) % 2) == 1

    bits = [
        F.when(
            F.size(F.filter(h, bit_test(b))) * 2 > n,
            F.lit(1).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
        for b in range(60)
    ]
    acc = F.lit(0).cast("long")
    for b, bit in enumerate(bits):
        acc = acc + F.shiftleft(bit, b)
    return acc


def simhash64_flat(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """SimHash via explode→aggregate — same values as ``simhash64`` but flat
    codegen-friendly expressions and map-side partial aggregation:
    per (doc, token): 64-bit md5-derived hash; per doc: majority vote per
    bit. Returns (doc_id, simhash)."""
    toks = docs.select(
        F.col("doc_id"),
        F.explode(
            F.array_distinct(F.split(normalized_text(F.col(text_col)), " "))
        ).alias("tok"),
    )
    h = F.conv(F.substring(F.md5(F.col("tok")), 1, 15), 16, 10).cast("long")
    # (h >> b) & 1 — identical to the old ((h >> b) % 2) == 1 cast to long
    # (h is a 60-bit non-negative value, so remainder and AND agree), but
    # ~4.6× faster: the compare+boolean-cast form dominated the whole
    # signature pass (r7: 13.0s → 2.8s for the 60-column projection+agg
    # at sf1).
    bits = toks.select(
        "doc_id",
        *[
            F.shiftright(h, b).bitwiseAND(F.lit(1)).alias(f"b{b}")
            for b in range(60)
        ],
    )
    agg = bits.groupBy("doc_id").agg(
        F.count("*").alias("n"),
        *[F.sum(f"b{b}").alias(f"b{b}") for b in range(60)],
    )
    acc = F.lit(0).cast("long")
    for b in range(60):
        bit = F.when(F.col(f"b{b}") * 2 > F.col("n"), F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        acc = acc + F.shiftleft(bit, b)
    return agg.select("doc_id", acc.alias("simhash"))


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_dup_pairs(
    docs: DataFrame,
    text_col: str = "text",
    max_hamming: int = 3,
    n_bands: int = 4,
) -> DataFrame:
    """SimHash near-duplicate pairs, banded (Charikar/pigeonhole): split the
    60-bit fingerprint into ``n_bands`` bands — two fingerprints within
    ``max_hamming <= n_bands - 1`` bit flips MUST agree exactly on at least
    one band, so candidates come from a band-key equi-join (never all
    pairs), then the exact Hamming filter verifies. Same scale shape as
    MinHash-LSH: the band join shuffles on (band_idx, band_key) only, and
    at corpus scale the banded table is storage-bucketed by band_key.

    Returns (doc_a, doc_b, hamming) with doc_a < doc_b.
    """
    if max_hamming > n_bands - 1:
        raise ValueError(
            f"banding guarantee requires max_hamming <= n_bands-1 "
            f"({max_hamming} > {n_bands - 1}): pairs beyond it can differ "
            "in every band and would be silently missed"
        )
    width = 60 // n_bands
    mask = (1 << width) - 1
    sims = simhash64_flat(docs, text_col)
    band_cols = [
        (
            F.shiftrightunsigned(F.col("simhash"), width * b).bitwiseAND(
                F.lit(mask)
            )
        ).alias(f"k{b}")
        for b in range(n_bands)
    ]
    banded = (
        sims.select("doc_id", "simhash", *band_cols)
        .unpivot(
            ["doc_id", "simhash"],
            [f"k{b}" for b in range(n_bands)],
            "band_idx",
            "band_key",
        )
        # eager localCheckpoint: see minhash_candidate_pairs — a lazy
        # persist lets the self-join's two concurrent exchange stages each
        # compute the full simhash aggregation (measured ~2× the signature
        # cost at sf1)
        .localCheckpoint(eager=True)
    )
    # SALTED self-join grid (r7, guide §2.5): a 15-bit band over a corpus
    # with big near-identical clusters produces HOT buckets (at sf1 one
    # band key holds ~15k docs → ~123M of the 294M candidate pairs), and
    # the band-key hash partitioning then sends an entire bucket's
    # quadratic pair expansion through ONE task. AQE's skew-join split
    # cannot help: it keys on shuffle-read BYTES of the join inputs, and a
    # 15k-row bucket is only ~600 KB — the skew is in the join OUTPUT.
    # Grid salt: each row gets a deterministic cell c = hash(doc_id) mod S;
    # the left side replicates to (c, k) for every k, the right side to
    # (k, c), and joining on (band, cell_a, cell_b) emits every unordered
    # in-bucket pair exactly once — in grid cell (c_i, c_j) — so the hot
    # bucket spreads over S² cells/partitions. Replication cost: S× a tiny
    # table; straggler → parallel.
    S = 8
    cells = F.array(*[F.lit(k) for k in range(S)])
    cell = F.pmod(F.xxhash64("doc_id"), F.lit(S))
    a = banded.withColumn("_ca", cell).withColumn(
        "_cb", F.explode(cells)
    ).alias("a")
    b = banded.withColumn("_cb", cell).withColumn(
        "_ca", F.explode(cells)
    ).alias("b")
    # FIRST-AGREEING-BAND dedup (r7): a pair that agrees in m bands used to
    # reach the final distinct m times (measured 63M candidate rows for
    # 27.4M unique pairs at sf1 — a 2.3× shuffle). Both simhashes ride the
    # join output, so each row can check whether ITS band is the pair's
    # first agreeing band and drop itself otherwise — every surviving pair
    # is emitted exactly once (the grid cell is unique per pair, the band
    # now too), making the distinct a no-op that we remove outright.
    def _band(s: Column, bi: int) -> Column:
        return F.shiftrightunsigned(s, width * bi).bitwiseAND(F.lit(mask))

    sa, sb = F.col("a.simhash"), F.col("b.simhash")
    first_agree = F.lit(None).cast("string")
    for bi in range(n_bands - 1, -1, -1):
        first_agree = F.when(
            _band(sa, bi) == _band(sb, bi), F.lit(f"k{bi}")
        ).otherwise(first_agree)
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a._ca") == F.col("b._ca"))
            & (F.col("a._cb") == F.col("b._cb"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(F.col("a.band_idx") == first_agree)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming64(F.col("a.simhash"), F.col("b.simhash")).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


# --------------------------------------------------------------------------
# LM training-data packing + content flags


def pack_plan(
    docs: DataFrame,
    capacity: int = 2048,
    text_col: str = "text",
    group_col: str = "source",
    shard_size: int = 1 << 20,
    broadcast_offsets: bool = True,
) -> DataFrame:
    """Concat-and-chunk sequence-packing plan for LM pretraining: documents
    are concatenated in deterministic (group, doc_id) order and split into
    fixed-``capacity`` token windows. Per doc: the window its first token
    lands in, the offset inside that window, and how many windows it spans.

    Scale design — TWO-PASS cumsum, no per-group serialization: a naive
    ``Window.partitionBy(group)`` running sum puts an entire source through
    ONE window partition (a 100 TB corpus with ~10 sources would serialize
    10^10 rows through ~10 partitions). Instead each group is sharded by
    ``doc_id div shard_size`` (monotone in doc_id, so (group, shard, doc_id)
    order == (group, doc_id) order):

    1. local pass — running sum WITHIN each (group, shard) window, every
       partition bounded by ``shard_size`` doc_ids;
    2. offset pass — per-shard token totals (map-side-combined groupBy, one
       row per shard) get their own tiny running sum per group, then
       broadcast-join back: ``cum_before = shard_offset + local_cum``.

    Integer sums decompose exactly, so the output is bit-identical to the
    single-window form (and to the SQL oracle). Token counts use the
    BPE-ish TOKEN_PATTERN, so the plan is exactly reproducible in SQL.

    ``broadcast_offsets`` (default True) assumes DENSE doc_ids: the offsets
    table then holds ~max_doc_id/shard_size rows per group — tiny. With
    SPARSE hash-like doc_ids the shards approach one per document and the
    forced broadcast would OOM the driver; pass False so AQE picks the
    join strategy from the offsets table's runtime size instead (the big
    side still avoids a full shuffle when AQE converts to broadcast).
    """
    from pyspark.sql import Window

    n_tok = token_count(F.col(text_col))
    t = docs.select(
        "doc_id", group_col, n_tok.alias("n_tokens")
    ).withColumn("_shard", F.floor(F.col("doc_id") / F.lit(int(shard_size))))
    w_local = (
        Window.partitionBy(group_col, "_shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local_cum = F.coalesce(F.sum("n_tokens").over(w_local), F.lit(0))
    # per-shard totals: ~rows/shard_size rows total — tiny, broadcastable
    totals = t.groupBy(group_col, "_shard").agg(
        F.sum("n_tokens").alias("_shard_tot")
    )
    w_shard = (
        Window.partitionBy(group_col)
        .orderBy("_shard")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        group_col,
        "_shard",
        F.coalesce(F.sum("_shard_tot").over(w_shard), F.lit(0)).alias("_shard_off"),
    )
    if broadcast_offsets:
        offsets = F.broadcast(offsets)
    return (
        t.withColumn("_local_cum", local_cum)
        .join(offsets, [group_col, "_shard"])
        .withColumn("cum_before", F.col("_shard_off") + F.col("_local_cum"))
        .select(
            "doc_id",
            group_col,
            "n_tokens",
            F.floor(F.col("cum_before") / capacity).alias("start_pack"),
            (F.col("cum_before") % capacity).alias("offset"),
            (
                F.floor(
                    (F.col("cum_before") + F.greatest(F.col("n_tokens") - 1, F.lit(0)))
                    / capacity
                )
                - F.floor(F.col("cum_before") / capacity)
                + 1
            ).alias("n_windows"),
        )
    )


def _let_arr(arr: Column, body) -> Column:
    """Let-bind an expensive array expression so ``body`` sees it exactly
    once: wrap it as the single element of an array literal and evaluate
    ``body`` through a one-element ``transform`` lambda. Catalyst's
    subexpression elimination skips subexpressions that appear only in
    *some* CASE WHEN branches, so an expression like ngram_shingles
    referenced from three places in a conditional is otherwise evaluated
    three times per row (measured: repetition_score cost 3 full shingle
    passes per document before this)."""
    return F.element_at(F.transform(F.array(arr), body), 1)


def repetition_score(text_col: Column, k: int = 3) -> Column:
    """Within-document repetition signal (Gopher-style quality rule): the
    fraction of duplicate word k-grams, ``1 - distinct/total`` over the
    normalized shingle stream. 0.0 = no repeated k-grams; boilerplate and
    generated spam score high. Pure native array exprs — per-row,
    embarrassingly parallel, SQL-oracle-reproducible.

    The shingle array is let-bound (``_let_arr``) so it is built ONCE per
    row; the naive form re-evaluated it for total, for the predicate and
    for the distinct count (r7: 107s → one pass at sf1)."""
    return _let_arr(
        ngram_shingles(text_col, k),
        lambda sh: F.when(
            F.size(sh) > 0,
            F.round(F.lit(1.0) - F.size(F.array_distinct(sh)) / F.size(sh), 4),
        ).otherwise(F.lit(0.0)),
    )


EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
URL_RE = r"https?://[^\s]+"
PHONE_RE = r"\+?[0-9]{10,12}"


def content_flags(text_col: Column) -> Column:
    """PII/content screening signals as one struct column (native regex —
    per-row, embarrassingly parallel): counts of emails, urls, phone-like
    digit runs, and a has_pii rollup. The filtering decision stays with the
    pipeline (curation composes on these columns)."""
    # coalesce text to '' so NULL-text rows yield zero counts and a concrete
    # has_pii=false (a NULL has_pii would vanish from BOTH filter branches)
    t = F.coalesce(text_col, F.lit(""))
    # regexp_count: identical non-overlapping match counts, no match-array
    # materialization per document (r7, guide §4.1)
    emails = F.regexp_count(t, F.lit(EMAIL_RE))
    urls = F.regexp_count(t, F.lit(URL_RE))
    phones = F.regexp_count(t, F.lit(PHONE_RE))
    return F.struct(
        emails.alias("n_emails"),
        urls.alias("n_urls"),
        phones.alias("n_phones"),
        ((emails + phones) > 0).alias("has_pii"),
    )


def gopher_quality_flags(text_col: Column) -> Column:
    """The Gopher corpus-filter rule set (Rae et al. 2021, "Scaling Language
    Models", Appendix A1.1) as ONE native struct column — per-document,
    embarrassingly parallel, integer-exact predicates (ratio thresholds are
    cross-multiplied so no float division can flap a boundary between
    engines):

    - word count in [50, 100_000];
    - mean word length in [3, 10] characters;
    - symbol-to-word ratio (``#`` or ``…``/``...``) ≤ 0.1;
    - ≤ 90% of lines start with a bullet; ≤ 30% end with an ellipsis;
    - ≥ 80% of words contain at least one alphabetic character;
    - at least 2 distinct members of the 8-word English stop set
      (the/be/to/of/and/that/have/with) appear.

    ``keep`` ANDs all seven. NULL/empty text fails len_ok and keeps concrete
    false flags (same NULL policy as content_flags)."""
    t = F.coalesce(text_col, F.lit(""))
    has_text = F.length(F.trim(t)) > 0
    words = F.when(has_text, F.split(F.trim(t), r"\s+")).otherwise(
        F.array().cast("array<string>")
    )
    wc = F.size(words)
    total_chars = F.aggregate(
        words, F.lit(0), lambda acc, w: acc + F.length(w)
    )
    alpha_words = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
    lines = F.filter(
        # NB: an explicit 1-arg lambda — passing F.trim directly would let
        # transform() feed the element INDEX as trim's second (trim-chars)
        # parameter
        F.transform(F.split(t, "\n"), lambda l: F.trim(l)),
        lambda l: F.length(l) > 0,
    )
    n_lines = F.size(lines)
    bullet_lines = F.size(
        F.filter(
            lines,
            lambda l: l.startswith("- ") | l.startswith("* ")
            | l.startswith("\u2022"),
        )
    )
    ellipsis_lines = F.size(
        F.filter(lines, lambda l: l.endswith("...") | l.endswith("\u2026"))
    )
    # literal-pattern counts via replace()+length delta \u2014 no regex engine at
    # all (r7): '#' is a 1-char literal; the '\.\.\.|\u2026' alternation's two
    # branches use disjoint characters, so leftmost non-overlapping matches
    # of the alternation == non-overlapping '...' occurrences plus '\u2026'
    # occurrences, which is exactly what the two replaces count.
    n_len = F.length(t)
    n_hash = n_len - F.length(F.replace(t, F.lit("#")))
    # length delta of the 3-char literal is an exact multiple of 3
    n_dots = n_len - F.length(F.replace(t, F.lit("...")))
    n_ell = n_len - F.length(F.replace(t, F.lit("\u2026")))
    symbols = n_hash + F.floor(n_dots / 3).cast("int") + n_ell
    lower_words = F.transform(words, F.lower)
    # one hash-set membership pass over the doc's words instead of 8
    # array_contains scans; array_intersect keeps distinct members of the
    # stop set found in lower_words \u2014 same count as the old filter.
    stop_hits = F.size(
        F.array_intersect(
            F.array(*[F.lit(s) for s in
                      ("the", "be", "to", "of", "and", "that", "have", "with")]),
            lower_words,
        )
    )
    len_ok = (wc >= 50) & (wc <= 100_000)
    mean_wl_ok = has_text & (total_chars >= 3 * wc) & (total_chars <= 10 * wc)
    symbol_ok = 10 * symbols <= wc
    bullet_ok = 10 * bullet_lines <= 9 * n_lines
    ellipsis_ok = 10 * ellipsis_lines <= 3 * n_lines
    alpha_ok = has_text & (5 * alpha_words >= 4 * wc)
    stop_ok = stop_hits >= 2
    keep = (
        len_ok & mean_wl_ok & symbol_ok & bullet_ok & ellipsis_ok
        & alpha_ok & stop_ok
    )
    return F.struct(
        wc.alias("n_words"),
        len_ok.alias("len_ok"),
        mean_wl_ok.alias("mean_wl_ok"),
        symbol_ok.alias("symbol_ok"),
        bullet_ok.alias("bullet_ok"),
        ellipsis_ok.alias("ellipsis_ok"),
        alpha_ok.alias("alpha_ok"),
        stop_ok.alias("stop_ok"),
        keep.alias("keep"),
    )


# --------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 — the MOSS
# local document-fingerprinting algorithm): rolling k-gram hashes, keep the
# min of every w-window. Guarantees any shared run of ≥ w+k-1 tokens yields
# a shared fingerprint, with ~2/(w+1) selection density.


def winnow_fingerprints(
    docs: DataFrame, text_col: str = "text", k: int = 3, w: int = 4
) -> DataFrame:
    """(doc_id, fp) — distinct winnowed fingerprints per document.

    Flat, scale-safe formulation: posexplode word-k-shingles → md5-derived
    60-bit hash per shingle → per-doc ordered window min over w positions →
    distinct. The only shuffle is the per-doc window (bounded by document
    length, never corpus size); hashes are md5-derived so the DuckDB oracle
    reproduces them bit-for-bit (same idiom as simhash64_flat).
    """
    from pyspark.sql import Window

    # NOTE(r7): deriving the per-doc shingle count from size(array) before
    # the explode was tried and is SLOWER — ProjectCollapsing inlines the
    # shingle-array expression into both consumers (size and posexplode),
    # doubling the dominant per-row cost. The count(*) window recount below
    # shares the min-window's exchange and is cheaper than a second shingle
    # pass; keep this shape. shingle_rows is the zero-lambda explode path.
    sh = shingle_rows(docs, text_col, k)
    h = F.conv(F.substring(F.md5(F.col("sh")), 1, 15), 16, 10).cast("long")
    win = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, w - 1)
    )
    per_doc = Window.partitionBy("doc_id")
    return (
        sh.select("doc_id", "pos", h.alias("h"))
        .withColumn("wmin", F.min("h").over(win))
        .withColumn("n", F.count("*").over(per_doc))
        # windows fully inside the doc; short docs keep their single
        # (clamped) window at pos 0
        .filter(F.col("pos") <= F.greatest(F.lit(0), F.col("n") - w))
        .select("doc_id", F.col("wmin").alias("fp"))
        .distinct()
    )


def sample_mix(
    docs: DataFrame,
    quotas: dict[str, int],
    group_col: str = "source",
    id_col: str = "doc_id",
    seed: int = 42,
    hash_fn: str = "md5",
) -> DataFrame:
    """Deterministic stratified sampling for pretraining data mixes: keep
    exactly ``min(quota, group_size)`` documents per group, chosen by a
    seeded hash order over the id — reproducible, independent of ingest
    order and partitioning, and exact (not Bernoulli ``sample()``, whose
    per-group counts drift). Groups absent from ``quotas`` are dropped
    (the mix is an explicit allowlist).

    Scale shape: one ranked window per group, ordered by the seeded hash.
    Per-group quotas are driver-known literals, so the max quota is a
    FOLDABLE cap — the ``rank <= literal`` conjunct fires Catalyst's
    InferWindowGroupLimit and every group is pruned map-side to ≤ cap rows
    BEFORE the shuffle (the politeness-budget-window trick; a 10^10-row
    web group never materializes in one window partition). The exact
    per-group quota then applies to the ≤ cap survivors.

    ``hash_fn='md5'`` keeps the pick order reproducible in the SQL oracle;
    ``'xxhash64'`` is the cheaper scale mode (same operator shape).
    """
    from pyspark.sql import Window

    if not quotas:
        return docs.filter(F.lit(False))
    if hash_fn == "md5":
        order = F.md5(
            F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string"))
        )
    elif hash_fn == "xxhash64":
        order = F.xxhash64(F.lit(seed), F.col(id_col))
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    qcol = None
    for g, q in quotas.items():
        cond = F.col(group_col) == F.lit(g)
        lit_q = F.lit(int(q))
        qcol = F.when(cond, lit_q) if qcol is None else qcol.when(cond, lit_q)
    tagged = docs.withColumn("_q", qcol.otherwise(F.lit(None))).filter(
        F.col("_q").isNotNull()
    )
    cap = max(int(q) for q in quotas.values())
    w = Window.partitionBy(group_col).orderBy(order, F.col(id_col))
    return (
        tagged.withColumn("_rk", F.row_number().over(w))
        # literal conjunct → InferWindowGroupLimit map-side prune
        .filter(F.col("_rk") <= F.lit(cap))
        .filter(F.col("_rk") <= F.col("_q"))
        .drop("_rk", "_q")
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    k: int = 13,
    threshold: int = 1,
    text_col: str = "text",
    bench_text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Benchmark decontamination (the standard n-gram overlap rule, e.g.
    GPT-3 §C / PaLM: drop a training document sharing any 13-gram with an
    evaluation set): annotates every doc with ``n_contaminated`` (how many
    of its DISTINCT word k-grams appear in the benchmark's k-gram set) and
    ``contaminated`` (≥ threshold).

    Scale shape: the benchmark k-gram set is exploded + distinct-ed once —
    eval suites are tiny next to the corpus, so it broadcasts
    (``broadcast_benchmark``; pass False for a huge benchmark and let AQE
    choose from runtime stats). The corpus side explodes its distinct
    k-grams, hash-joins against the broadcast set, and map-side-combines
    the per-doc hit count — corpus rows never shuffle on anything wider
    than (id, count). Short docs (< k words) contribute their whole text
    as one gram (ngram_shingles' degenerate case) — exact-match
    containment still fires.
    """
    bgrams = benchmark.select(
        F.explode(ngram_shingles(F.col(bench_text_col), k)).alias("gram")
    ).distinct()
    if broadcast_benchmark:
        bgrams = F.broadcast(bgrams)
    dgrams = docs.select(
        F.col(id_col).alias("_d_id"),
        F.explode(
            F.array_distinct(ngram_shingles(F.col(text_col), k))
        ).alias("gram"),
    )
    hits = (
        dgrams.join(bgrams, "gram")
        .groupBy("_d_id")
        .agg(F.count("*").alias("n_contaminated"))
    )
    out = docs.join(
        hits, docs[id_col] == hits["_d_id"], "left"
    ).drop("_d_id")
    n = F.coalesce(F.col("n_contaminated"), F.lit(0))
    return out.withColumn("n_contaminated", n).withColumn(
        "contaminated", n >= F.lit(int(threshold))
    )


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components of the near-duplicate pair graph — the proper
    cluster-then-keep-one dedup. (Dropping ``doc_b`` of every pair, as the
    simple curation stage does, over-deletes on chains a-b, b-c: b AND c
    both drop even though after removing b, c no longer duplicates
    anything kept. Component clustering keeps exactly one representative —
    the min doc_id — per duplicate cluster.)

    Iterative min-label propagation: ``label(v)`` starts at v; each round
    every vertex takes the min label among itself and its neighbours;
    fixpoint after O(graph diameter) rounds — near-dup clusters are
    shallow (diameter ≲ 3), so 3-4 rounds typical, ``max_iter`` bounds
    pathological chains.

    Spark-first shape per round: one edge join + one min-groupBy (two
    shuffles on near-uniform ids — at 10^10 edges both sides bucket by
    vertex id). Labels persist per round and the previous round unpersists
    so lineage stays O(1); convergence is driver-checked with a
    LIMIT-1-count probe (the per-round scalar action an iterative
    algorithm needs — this is the documented exception to the no-driver-
    loop rule, bounded by the graph diameter, not the data size).

    Returns (doc_id, component) for every vertex that appears in a pair;
    ``component`` = min doc_id of the component (deterministic).
    """
    a, b = F.col(a_col), F.col(b_col)
    edges = (
        pairs.select(a.alias("src"), b.alias("dst"))
        .unionByName(pairs.select(b.alias("src"), a.alias("dst")))
        .distinct()
        .persist()
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .persist()
    )
    try:
        for _ in range(max_iter):
            prop = edges.join(
                labels.withColumnRenamed("id", "src"), "src"
            ).select(F.col("dst").alias("id"), "label")
            new_labels = (
                labels.unionByName(prop)
                .groupBy("id")
                .agg(F.min("label").alias("label"))
                .persist()
            )
            changed = (
                new_labels.join(
                    labels.select("id", F.col("label").alias("_old")), "id"
                )
                .filter(F.col("label") != F.col("_old"))
                .limit(1)
                .count()
            )
            labels.unpersist()
            labels = new_labels
            if changed == 0:
                break
        # Eager local checkpoint: materializes the final labels once (they
        # are already computed — the loop ran actions every round), lets the
        # internal persists release, and the checkpoint blocks themselves
        # are GC-cleaned with the returned DataFrame (no session-lifetime
        # cache leak).
        out = labels.select(
            F.col("id").alias("doc_id"), F.col("label").alias("component")
        ).localCheckpoint(eager=True)
        return out
    finally:
        edges.unpersist()
        labels.unpersist()


# Unigram log10-probabilities for frequent English words (rounded from
# standard corpus frequencies; a driver-known literal table — the CCNet-ish
# LM-quality proxy does not need an exact LM, it needs a stable monotone
# signal that separates English prose from boilerplate/noise).
EN_UNIGRAM_LOGP: dict[str, float] = {
    "the": -1.2, "of": -1.6, "and": -1.6, "to": -1.6, "a": -1.7,
    "in": -1.7, "is": -2.0, "it": -2.1, "you": -2.1, "that": -2.1,
    "he": -2.2, "was": -2.2, "for": -2.2, "on": -2.3, "are": -2.3,
    "as": -2.3, "with": -2.3, "his": -2.4, "they": -2.4, "i": -2.4,
    "at": -2.5, "be": -2.5, "this": -2.5, "have": -2.5, "from": -2.5,
    "or": -2.6, "one": -2.6, "had": -2.6, "by": -2.6, "word": -3.2,
    "but": -2.6, "not": -2.6, "what": -2.7, "all": -2.7, "were": -2.7,
    "we": -2.7, "when": -2.7, "your": -2.7, "can": -2.8, "said": -2.8,
}


def unigram_logprob(
    text_col: Column,
    logp: dict[str, float] | None = None,
    oov_logp: float = -7.0,
) -> Column:
    """Mean per-token unigram log10-probability — the lightweight stand-in
    for the CCNet/KenLM perplexity filter (higher = more natural prose;
    boilerplate, code and non-English text score near the OOV floor).

    Fully native AND bit-stable cross-engine: the table is quantized to
    integer CENTI-log units (exact, order-free bigint sum — no float
    accumulation), and the mean is ONE IEEE division of two exact
    integers, which every engine computes to the same bits — so no
    rounding step is needed at all (a float-sum + round(6) formulation
    flapped on a half-ULP tie in the oracle; same lesson as
    graphops.pagerank). Swap in a larger table the same way at production
    scale (or broadcast-join a vocab dim for 10^5+ entries).
    """
    logp = logp if logp is not None else EN_UNIGRAM_LOGP
    centi = {k: int(round(v * 100)) for k, v in logp.items()}
    oov_centi = int(round(oov_logp * 100))
    m = F.create_map(
        *[F.lit(x) for k, v in centi.items() for x in (k, v)]
    )
    words = words_of(text_col)
    lps = F.transform(
        words,
        lambda w: F.coalesce(F.element_at(m, w), F.lit(oov_centi)).cast("long"),
    )
    total = F.aggregate(lps, F.lit(0).cast("long"), lambda a, v: a + v)
    return F.when(
        F.size(words) > 0, total / (F.size(words).cast("long") * 100)
    ).otherwise(F.lit(float(oov_logp)))


def duplicate_spans(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 3,
    w: int = 4,
    min_docs: int = 2,
) -> DataFrame:
    """(fp, n_docs, first_doc) — winnowed fingerprints shared by at least
    ``min_docs`` documents: the cross-document repeated-SPAN signal (the
    exact-substring duplication family of Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"), at winnowing granularity
    instead of suffix arrays — the Spark-shaped formulation: one explode +
    one groupBy on the fingerprint (near-uniform 60-bit key), no global
    suffix sort. High-``n_docs`` fingerprints are boilerplate/template
    spans; join back on fp to locate and excise them per document.

    Scale shape: winnow_fingerprints shuffles only per-doc windows
    (bounded by document length); the rollup is one map-side-combinable
    groupBy. At 10^10 docs bucket the fingerprint table by fp."""
    fps = winnow_fingerprints(docs, text_col, k, w)
    return (
        fps.groupBy("fp")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("first_doc"))
        .filter(F.col("n_docs") >= min_docs)
    )


def incremental_new(
    new_docs: DataFrame, seen_fps: DataFrame, text_col: str = "text"
) -> DataFrame:
    """New-snapshot documents whose exact content fingerprint was NOT in
    the previous corpus — the content-level twin of the crawl's URL-seen
    anti-join, so each incremental Common-Crawl snapshot only pays for its
    delta (the standard month-over-month CC workflow: ~60-70% of pages
    repeat byte-identically).

    ``seen_fps``: a table with an ``fp`` column — e.g.
    ``docs.select(fingerprint(col('text')).alias('fp'))`` over the prior
    snapshot, or the stored distinct-fp dim it produces. Anti-join on the
    md5 fingerprint; at corpus scale store both sides fp-bucketed (the
    seen-set idiom) for a shuffle-free LeftAnti."""
    fps = new_docs.withColumn("_fp", fingerprint(F.col(text_col)))
    seen = seen_fps.select(F.col("fp").alias("_fp")).distinct()
    return fps.join(seen, "_fp", "left_anti").drop("_fp")


def top_idf_terms(
    docs: DataFrame,
    text_col: str = "text",
    top_k: int = 3,
    min_len: int = 4,
    scale: int = 1000,
) -> DataFrame:
    """(doc_id, term, tf, df, score) — top-``top_k`` keyword terms per doc
    by tf × (N·scale DIV df): document-frequency-weighted keyword
    extraction (the linear-idf member of the tf-idf family, kept in EXACT
    integer arithmetic — a log-idf uses transcendental libm calls that can
    differ by 1 ulp across engines, which a hash-comparing gate cannot
    tolerate; for ranking keywords the monotone-in-1/df linear weight is
    the standard determinism-safe stand-in).

    Scale shape: one explode + two map-side-combinable groupBys on
    near-uniform keys (doc_id×term, then term), N via a 1-row agg
    cross-join (no driver action), and a per-doc top-k window bounded by
    the doc's vocabulary — never corpus-wide. Ties break (score desc,
    term asc), deterministic.
    """
    from pyspark.sql import Window

    terms = docs.select(
        "doc_id",
        F.explode(
            F.filter(words_of(F.col(text_col)), lambda w: F.length(w) >= min_len)
        ).alias("term"),
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").cast("long").alias("_n"))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "score",
            F.col("tf") * F.expr(f"(_n * {int(scale)}) DIV df"),
        )
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= top_k)
        .select("doc_id", "term", "tf", "df", "score")
    )
