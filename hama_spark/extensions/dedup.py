"""Deduplication operators for training-data pipelines (north star):
exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine.

Design for 100 TB:
- exact dedup: hash-groupBy on a fingerprint — one shuffle, partial agg.
- MinHash/LSH: shingle -> minhash signature -> band buckets -> pair
  candidates ONLY within buckets (the join is on band hash, never a
  cross product); candidates verified with true Jaccard.
- SimHash: 64-bit signature via per-bit majority over token hashes; the
  banding trick (4x16-bit chunks) finds hamming<=k candidates without a
  cross join.
- embedding cosine: brute-force is quadratic — kept for small dims /
  oracle ground truth; LSH/IVF variants live in similarity.py.

Everything except simhash has an exact ANSI-SQL twin (md5-based
hashing, string-min minhash) for the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from hama_spark.extensions.text import doc_fingerprint, tokenize


# ---------------------------------------------------------------- exact
def dedup_exact(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Keep the lowest id per identical (whitespace-normalized,
    lowercased) text. Returns (doc_id, n_dups) per surviving doc."""
    return (
        df.select(F.col(id_col), doc_fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).cast("long").alias("n_dups"),
        )
        .select(id_col, "n_dups")
    )


# ------------------------------------------------------------- shingles
def word_shingles(text, k: int = 3) -> Column:
    """Distinct word k-grams (space-joined), the MinHash/Jaccard unit.
    Documents shorter than k tokens contribute their full token string
    as a single shingle so they still participate."""
    toks = tokenize(text)
    n = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(n - k + 1, F.lit(1))),
        lambda i: F.array_join(F.slice(toks, i, k), " "),
    )
    return F.array_distinct(grams)


def _shingle_rows(df: DataFrame, id_col: str, text_col: str, k: int) -> DataFrame:
    from hama_spark.extensions.text import spread_rows

    # project to the two needed columns BEFORE spreading (the shuffle
    # moves only id+text), then shingle on full parallelism — an
    # unsplittable one-row-group scan otherwise runs the whole
    # shingle/md5 map stage on one core (guide §2; r10)
    slim = spread_rows(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_t"))
    )
    return slim.select("id", F.explode(word_shingles("_t", k)).alias("sh"))


def _guard_quadratic(
    df: DataFrame, bound: int, override: bool, fn: str, scale_path: str
) -> None:
    """Refuse to run an O(n²) ground-truth twin on an input big enough
    to make that a mistake. One cheap count() pre-flight; the oracle /
    test fixtures (≤ thousands of rows) pass untouched, a user pointing
    the twin at a corpus gets an actionable error instead of a
    cluster-melting job. ``override`` (the i_know_this_is_quadratic
    flag) skips the guard AND the count."""
    if override:
        return
    n = df.count()
    if n > bound:
        raise ValueError(
            f"{fn} is a brute-force O(n²) ground-truth twin and the input "
            f"has {n} rows (> max_input_rows={bound}); use {scale_path} "
            f"for corpus-scale inputs, or pass i_know_this_is_quadratic="
            f"True to proceed anyway"
        )


# ------------------------------------------------------- n-gram Jaccard
def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_input_rows: int = 100_000,
    i_know_this_is_quadratic: bool = False,
) -> DataFrame:
    """All pairs (a<b) with Jaccard similarity of word-k-gram sets >=
    threshold. The self-join is on the shingle (inverted index), so cost
    is Σ df(shingle)² — fine when shingles are selective; for hot
    shingles prefer minhash_lsh_dup_pairs.

    GROUND-TRUTH TWIN, not a scale path: hot shingles (boilerplate,
    stopword k-grams) make the bucket join effectively all-pairs. The
    guard refuses inputs above ``max_input_rows`` unless
    ``i_know_this_is_quadratic=True`` — on a real corpus you want
    ``minhash_lsh_dup_pairs``."""
    _guard_quadratic(
        df, max_input_rows, i_know_this_is_quadratic,
        "ngram_jaccard_pairs", "minhash_lsh_dup_pairs",
    )
    sh = _shingle_rows(df, id_col, text_col, k).localCheckpoint(eager=True)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
    jac = F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


# ----------------------------------------------------------- MinHash LSH
MINHASH_PRIME = 4294967311  # smallest prime > 2^32


def minhash_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) for the affine hash family
    h_i(x) = (a_i*x + b_i) mod P. a_i < 2^30 keeps a_i*x < 2^62 for
    32-bit x — overflow-free in BOTH Spark and DuckDB int64 math."""
    return [
        ((1 + i * 0x9E3779B1) % (1 << 30) or 1, (0x85EBCA6B * (i + 1)) % MINHASH_PRIME)
        for i in range(num_hashes)
    ]


def minhash_signatures(
    df: DataFrame,
    num_hashes: int = 16,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, sig array<long>) — the scale path: explode shingles, md5
    each ONCE, one shuffle with ``num_hashes`` min-aggregates (map-side
    partial agg keeps shuffle volume at num_hashes longs per doc)."""
    return _signatures_from_shingles(_shingle_rows(df, id_col, text_col, k), num_hashes)


def _signatures_from_shingles(sh: DataFrame, num_hashes: int) -> DataFrame:
    """Signature derivation from a prebuilt (id, sh) relation, so
    callers that also need the shingle rows (size/intersection math)
    can checkpoint them once and feed both consumers."""
    h = sh.select(
        "id",
        F.conv(F.substring(F.md5(F.col("sh").cast("binary")), 1, 8), 16, 10)
        .cast("long")
        .alias("h"),
    )
    coeffs = minhash_coeffs(num_hashes)
    agg = h.groupBy("id").agg(
        *[
            F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(MINHASH_PRIME)).alias(f"m{i}")
            for i, (a, b) in enumerate(coeffs)
        ]
    )
    return agg.select("id", F.array(*[f"m{i}" for i in range(num_hashes)]).alias("sig"))


def minhash_band_rows(sig: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(id, band, key) LSH band rows from an (id, sig) relation: the
    key concatenates one band's slice of the signature, so two docs
    share a (band, key) row iff that whole band agrees — the equi-join
    key both the self-join pair finder and the persistent incremental
    index probe use. Deterministic given (num_hashes, bands)."""
    rows_per_band = num_hashes // bands
    return sig.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            "|", *[F.col("sig")[b * rows_per_band + r] for r in range(rows_per_band)]
                        ).alias("key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))


def minhash_lsh_dup_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    verify: bool = True,
) -> DataFrame:
    """Near-duplicate pairs via MinHash banding.

    num_hashes/bands rows per band; candidates = pairs agreeing on ALL
    rows of >=1 band (join key = band index + concatenated band slice);
    verified with exact shingle Jaccard when ``verify``.

    Returns (id_a, id_b, jaccard) with id_a < id_b.
    """
    # eager checkpoint: the bands self-join below would otherwise
    # re-derive (and re-hash) the signatures once PER SIDE
    sig = minhash_signatures(df, num_hashes, k, id_col, text_col).localCheckpoint(
        eager=True
    )
    bands_df = minhash_band_rows(sig, num_hashes, bands)

    x, y = bands_df.alias("x"), bands_df.alias("y")
    candidates = (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.key") == F.col("y.key"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )
    if not verify:
        return candidates

    sh = _shingle_rows(df, id_col, text_col, k).localCheckpoint(eager=True)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    # merge-hint the shingle sides: their shuffle output compresses
    # ~20:1 (repeated token strings), so AQE's runtime broadcast
    # conversion — which thresholds on COMPRESSED size — would build a
    # decompressed multi-GB hash relation on the driver at corpus
    # scale (measured: "Not enough memory to build and broadcast" at
    # 500k docs under the session's 64 MB threshold). Sort-merge
    # shuffles both sides and spills — the only safe strategy for an
    # exploded text relation.
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        candidates.join(a.hint("merge"), F.col("id_a") == F.col("a.id"))
        .join(
            b.hint("merge"),
            (F.col("id_b") == F.col("b.id")) & (F.col("a.sh") == F.col("b.sh")),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    jac = F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
    return (
        inter.join(sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b")), "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


# --------------------------------------------------------------- SimHash
SIMHASH_BITS = 60  # 15 md5 hex chars -> no int64 overflow in any engine
_SIMHASH_CHUNK = SIMHASH_BITS // 4


def simhash_signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, sig:long) — 60-bit SimHash over whitespace tokens: bit j of
    the signature is the sign of Σ_tokens (±1 depending on bit j of the
    token hash). The token hash is the first 15 md5 hex chars as an
    integer — same stream as DuckDB's ('0x'||substr(md5(tok),1,15))
    ::BIGINT, which makes pairs oracle-checkable.

    Shape: explode tokens once, hash each token ONCE, then one groupBy
    with 60 conditional-sum aggregates (all JVM/codegen). A per-token
    60-wide array fold inside ``F.aggregate`` is ~10x slower.
    """
    from hama_spark.extensions.text import spread_rows

    # spread the unsplittable scan before the per-token md5 map stage
    # (same rationale as _shingle_rows)
    slim = spread_rows(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_t"))
    )
    toks = slim.select("id", F.explode(tokenize("_t")).alias("tok")).select(
        "id",
        F.conv(F.substring(F.md5(F.col("tok").cast("binary")), 1, 15), 16, 10)
        .cast("long")
        .alias("h"),
    )
    votes = toks.groupBy("id").agg(
        *[
            F.sum(
                F.when(F.shiftright("h", j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"b{j}")
            for j in range(SIMHASH_BITS)
        ]
    )
    sig = F.lit(0).cast("long")
    for j in range(SIMHASH_BITS):
        sig = sig.bitwiseOR(
            F.when(F.col(f"b{j}") > 0, F.shiftleft(F.lit(1).cast("long"), j)).otherwise(
                F.lit(0).cast("long")
            )
        )
    return votes.select("id", sig.alias("sig"))


def simhash_dup_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Near-dup pairs with SimHash hamming distance <= max_hamming.
    Banding: 4 x 15-bit chunks — any pair within hamming 3 must agree on
    at least one chunk (pigeonhole), so candidates join on chunk value.
    Returns (id_a, id_b, hamming)."""
    mask = (1 << _SIMHASH_CHUNK) - 1
    sigs = simhash_signatures(df, id_col, text_col).localCheckpoint(eager=True)
    chunks = sigs.select(
        "id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftrightunsigned(F.col("sig"), c * _SIMHASH_CHUNK)
                        .bitwiseAND(F.lit(mask))
                        .alias("val"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("cv"),
    ).select("id", "sig", F.col("cv.chunk").alias("chunk"), F.col("cv.val").alias("val"))

    x, y = chunks.alias("x"), chunks.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.chunk") == F.col("y.chunk"))
            & (F.col("x.val") == F.col("y.val"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .select(
            F.col("x.id").alias("id_a"),
            F.col("y.id").alias("id_b"),
            F.col("x.sig").alias("sig_a"),
            F.col("y.sig").alias("sig_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return cand.select("id_a", "id_b", hamming.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


# ------------------------------------------------- near-dup collapsing
def dedup_near(
    df: DataFrame,
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Collapse near-duplicate CLUSTERS (not just pairs): MinHash-LSH
    pairs -> connected components via two-phase star contraction
    (graph/cc_twophase.py; see ``_label_components`` for why it
    replaces min-label propagation here) -> keep the lowest id per
    component. Returns (doc_id, n_dups) where n_dups counts the
    component (1 = unique doc).

    ``pairs`` lets a pipeline that already materialized the LSH pairs
    (columns id_a, id_b) feed them in instead of re-shingling and
    re-signing the corpus — cluster collapse then costs only the
    connected-components pass."""
    if pairs is None:
        pairs = minhash_lsh_dup_pairs(
            df, threshold, num_hashes, bands, k, id_col, text_col
        ).localCheckpoint(eager=True)
    return _collapse_pairs(df, pairs, id_col)


def _label_components(
    df: DataFrame, pairs: DataFrame, id_col: str, extra_cols: list[str] = ()
) -> DataFrame:
    """Shared cluster-labeling preamble for both survivor rules:
    duplicate pairs (id_a, id_b) -> connected components (SURVEY §7
    Phase 6: dedup clustering reuses the graph layer). Returns
    (id_col, *extra_cols, _comp, _pid) — one row per df row, labeled
    with its component (own padded id when unpaired).

    Components run as two-phase star contraction
    (graph/cc_twophase.py): near-dup clusters are often CHAINS of
    pairwise-similar documents (a path graph), where min-label
    propagation (graph/components.py, the A3 twin) needs O(chain
    length) supersteps — star contraction converges in O(log n) rounds
    with the same min-id labels. ids propagate as zero-padded strings
    so the string-min label equals the numeric min."""
    from hama_spark.graph.cc_twophase import connected_components_twophase

    pad = lambda c: F.lpad(F.col(c).cast("string"), 15, "0")
    edges = pairs.select(pad("id_a").alias("src"), pad("id_b").alias("dst"))
    comp = connected_components_twophase(edges)

    ids = df.select(F.col(id_col), *extra_cols, pad(id_col).alias("_pid"))
    return ids.join(comp, ids["_pid"] == comp["id"], "left").select(
        F.col(id_col),
        *extra_cols,
        F.coalesce(F.col("component"), F.col("_pid")).alias("_comp"),
        "_pid",
    )


def _collapse_pairs(df: DataFrame, pairs: DataFrame, id_col: str) -> DataFrame:
    """Min-id cluster-collapse tail: keep the lowest id per component.
    Returns (id_col, n_dups); n_dups = component size (1 = unique
    row)."""
    return (
        _label_components(df, pairs, id_col)
        .groupBy("_comp")
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).cast("long").alias("n_dups"),
        )
        .select(id_col, "n_dups")
    )


def collapse_keep_best(
    df: DataFrame,
    pairs: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-aware cluster collapse: same connected-components
    machinery as :func:`_collapse_pairs`, but the survivor of each
    duplicate cluster is the row with the HIGHEST ``score_col`` (ties →
    lowest id, deterministic) instead of the lowest id — what a
    production pipeline actually keeps (the longest / highest-quality /
    most-recent copy), composed with any pair finder in this module
    (``minhash_lsh_dup_pairs``, ``simhash_dup_pairs``,
    ``lsh_cosine_dup_pairs``, precomputed index probes).

    Returns (id_col, score_col, n_dups): one row per cluster, n_dups =
    cluster size (1 = unique document).

    Scale shape: the per-cluster argmax is ONE ``min_by`` aggregation on
    the component label (map-side combined, constant state per group) —
    no window over the corpus, no second join against the text.
    """
    labeled = _label_components(df, pairs, id_col, extra_cols=[score_col])
    # min_by on a (-score, padded_id) struct: greatest score wins and
    # the lexicographic min of the zero-padded id breaks exact score
    # ties — id-type-agnostic (numeric or string ids), same padding the
    # CC labels themselves use. Struct comparison is field-by-field.
    ranked = F.struct(
        (-F.col(score_col)).alias("ns"), F.col("_pid").alias("pid")
    )
    return (
        labeled.groupBy("_comp")
        .agg(
            F.min_by(F.struct(F.col(id_col), F.col(score_col)), ranked).alias("_w"),
            F.count(F.lit(1)).cast("long").alias("n_dups"),
        )
        .select(
            F.col(f"_w.{id_col}").alias(id_col),
            F.col(f"_w.{score_col}").alias(score_col),
            "n_dups",
        )
    )


def dedup_embedding(
    df: DataFrame,
    threshold: float = 0.9,
    planes: int = 4,
    tables: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup collapse at scale: LSH-bucketed cosine
    pairs (similarity.lsh_cosine_dup_pairs — per-bucket joins, never
    all-pairs) -> connected components -> lowest id per cluster.
    Completes the dedup family's scale paths (exact / MinHash-LSH /
    SimHash / embedding). ``pairs`` accepts a precomputed (id_a, id_b)
    DataFrame so a pipeline that already materialized the LSH pairs
    pays only the cluster-collapse cost (mirrors dedup_near)."""
    if pairs is None:
        from hama_spark.extensions.similarity import lsh_cosine_dup_pairs

        pairs = lsh_cosine_dup_pairs(
            df, threshold, planes, tables, seed, id_col=id_col, vec_col=vec_col
        ).localCheckpoint(eager=True)
    return _collapse_pairs(df, pairs, id_col)


# ---------------------------------------------------- embedding cosine
def embedding_cosine_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_input_rows: int = 100_000,
    i_know_this_is_quadratic: bool = False,
) -> DataFrame:
    """Exact near-duplicate pairs by cosine similarity >= threshold.
    Brute force O(n²) — the oracle/ground-truth path; use
    similarity.lsh_cosine_dup_pairs / semantic_dup_pairs for the scale
    path. Cosine computed on L2-normalized doubles, rounded to 9 dp for
    cross-engine stability. Inputs above ``max_input_rows`` raise
    unless ``i_know_this_is_quadratic=True`` (100k rows is already a
    10¹⁰-pair join)."""
    _guard_quadratic(
        df, max_input_rows, i_know_this_is_quadratic,
        "embedding_cosine_dup_pairs", "lsh_cosine_dup_pairs",
    )
    norm = F.sqrt(
        F.aggregate(F.col(vec_col), F.lit(0.0), lambda a, x: a + x.cast("double") * x)
    )
    v = df.select(
        F.col(id_col).alias("id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double") / norm).alias("v"),
    ).localCheckpoint(eager=True)
    a, b = v.alias("a"), v.alias("b")
    cos = F.aggregate(
        F.zip_with(F.col("a.v"), F.col("b.v"), lambda p, q: p * q),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(cos, 9).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


# ------------------------------------------------- decontamination
def contamination_report(
    corpus: DataFrame,
    benchmark: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str | None = None,
) -> DataFrame:
    """Benchmark decontamination: per corpus document, how many of its
    distinct word-k-gram shingles also appear anywhere in ``benchmark``
    (the standard train/eval overlap check run before training).

    Returns one row per corpus doc: (id_col, n_hits, n_shingles,
    contamination = n_hits / n_shingles) — filter on ``contamination``
    (or ``n_hits > 0``) to drop leaked documents.

    Scale shape: the benchmark side is an eval set — tiny next to a
    100 TB corpus — so its distinct-shingle set is BROADCAST and the
    corpus shingles stream map-side through the hash join; corpus text
    never shuffles, only (id, shingle) pairs move into the per-doc
    count, and the two counts share one shingle relation.
    """
    bench_text_col = bench_text_col or text_col
    c = _shingle_rows(corpus, id_col, text_col, k)
    b = (
        benchmark.select(F.explode(word_shingles(bench_text_col, k)).alias("sh"))
        .distinct()
    )
    hits = c.join(F.broadcast(b), "sh").groupBy("id").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    sizes = c.groupBy("id").agg(F.count(F.lit(1)).alias("n_shingles"))
    return (
        sizes.join(hits, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            F.col("n_shingles").cast("long").alias("n_shingles"),
            (F.coalesce(F.col("n_hits"), F.lit(0)) / F.col("n_shingles")).alias(
                "contamination"
            ),
        )
    )


def bloom_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    k: int = 3,
    fpp: float = 0.001,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str | None = None,
    num_bits: int | None = None,
    num_hashes: int | None = None,
    seed: int = 42,
    n_shards: int | None = None,
) -> DataFrame:
    """:func:`contamination_report` for the regime where the reference
    key set is too large to broadcast as an exact hash set — the other
    corpus in a cross-corpus decontamination, a seen-shingle set from
    earlier crawl snapshots. Same output, different physical plan:

    1. the reference side's distinct shingles build a Bloom filter
       (one shuffle of (word, bits) pairs, fixed ``num_bits``-bit
       result regardless of set size);
    2. corpus shingles probe the broadcast filter MAP-SIDE — at 100 TB
       this is the only full pass over the corpus, and it moves no
       corpus data;
    3. only the surviving sliver (true hits + ~``fpp`` false
       positives) pays the exact confirm join, which removes the false
       positives — so the result is EXACTLY ``contamination_report``'s
       (no false negatives: a Bloom filter never drops a member; no
       false positives: the confirm join is exact). The confirm join
       is left to AQE: at eval-set scale it broadcasts, at
       cross-corpus scale it shuffles only the sliver.

    Returns (id_col, n_hits, n_shingles, contamination), hash-equal to
    :func:`contamination_report` on the same inputs.
    """
    from hama_spark.functions.bloom import bloom_build, bloom_probe

    bench_text_col = bench_text_col or text_col
    b = (
        benchmark.select(F.explode(word_shingles(bench_text_col, k)).alias("sh"))
        .distinct()
        .localCheckpoint(eager=True)  # reused: sizing count, filter build, confirm join
    )
    # b is already distinct, so a plain count sizes the filter — passing
    # expected_items spares bloom_build its own count_distinct job.
    # n_shards=None lets the build shard itself when the reference
    # outgrows one shard's 2^31-bit ceiling (~1.5e8 shingles at the
    # default fpp); pass it explicitly to pin a layout.
    bloom = bloom_build(
        b,
        "sh",
        num_bits=num_bits,
        num_hashes=num_hashes,
        expected_items=None if (num_bits and num_hashes) else b.count(),
        fpp=fpp,
        seed=seed,
        n_shards=n_shards,
    )  # bloom_probe checkpoints it — built once however many probes

    # the corpus shingle relation is deliberately NOT checkpointed: it
    # feeds two map-side consumers (per-doc sizes, probe) and
    # re-shingling is a cheap narrow rescan, while materializing
    # |corpus|·shingles rows is a storage round-trip that costs more
    # than both rescans together (measured 2x on this operator's bench
    # query) — and is exactly what you cannot afford at 100 TB
    c = _shingle_rows(corpus, id_col, text_col, k)
    maybe = bloom_probe(c, bloom, "sh", "_maybe").filter(F.col("_maybe")).drop("_maybe")
    hits = maybe.join(b, "sh").groupBy("id").agg(F.count(F.lit(1)).alias("n_hits"))
    sizes = c.groupBy("id").agg(F.count(F.lit(1)).alias("n_shingles"))
    return sizes.join(hits, "id", "left").select(
        F.col("id").alias(id_col),
        F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
        F.col("n_shingles").cast("long").alias("n_shingles"),
        (F.coalesce(F.col("n_hits"), F.lit(0)) / F.col("n_shingles")).alias(
            "contamination"
        ),
    )


def near_contamination_pairs(
    corpus: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str | None = None,
    bench_text_col: str | None = None,
) -> DataFrame:
    """NEAR-duplicate benchmark decontamination: (corpus_id, bench_id,
    jaccard) for every corpus document whose shingle set is >= threshold
    Jaccard-similar to some benchmark document. Catches the leaks
    :func:`contamination_report`'s exact-shingle fraction understates —
    a paraphrased or lightly-edited eval question shares few exact
    k-grams overall but still crosses a 0.5 whole-document Jaccard.

    Same LSH machinery as :func:`minhash_lsh_dup_pairs` (identical
    seeded hash family, so an index built for self-dedup probes here
    too), but a CROSS join between two relations instead of a self-join:
    candidates agree on all rows of >= 1 band, then exact shingle
    Jaccard verifies each candidate.

    Scale shape: the benchmark is an eval set — tiny next to a 100 TB
    corpus — so its band rows and shingle rows are BROADCAST; corpus
    shingles stream map-side through both hash joins and corpus text
    never shuffles. The corpus shingle relation is locally checkpointed
    ONCE and feeds signatures, sizes, and the intersection join (the
    corpus is tokenized a single time — same discipline as
    ``minhash_lsh_dup_pairs``). Candidate cost is Σ per (band, key)
    bucket of |corpus_b|·|bench_b|, never |C|·|B|.
    """
    bench_id_col = bench_id_col or id_col
    bench_text_col = bench_text_col or text_col

    sh_c = _shingle_rows(corpus, id_col, text_col, k).localCheckpoint(eager=True)
    sh_b = _shingle_rows(benchmark, bench_id_col, bench_text_col, k).localCheckpoint(
        eager=True
    )
    sig_c = _signatures_from_shingles(sh_c, num_hashes)
    sig_b = _signatures_from_shingles(sh_b, num_hashes)
    bands_c = minhash_band_rows(sig_c, num_hashes, bands)
    bands_b = minhash_band_rows(sig_b, num_hashes, bands)

    candidates = (
        bands_c.join(
            F.broadcast(
                bands_b.select(
                    F.col("id").alias("_bid"), "band", "key"
                )
            ),
            on=["band", "key"],
        )
        .select(F.col("id").alias("corpus_id"), F.col("_bid").alias("bench_id"))
        .distinct()
    )

    sz_c = sh_c.groupBy("id").agg(F.count(F.lit(1)).alias("sz_c"))
    sz_b = sh_b.groupBy("id").agg(F.count(F.lit(1)).alias("sz_b"))
    inter = (
        sh_c.join(F.broadcast(sh_b.select(F.col("id").alias("_bid"), "sh")), "sh")
        .join(
            # no broadcast hint: candidate count is bench-bounded in the
            # typical case but corpus-bounded when contamination is
            # pervasive — let AQE pick from the runtime size
            candidates,
            (F.col("id") == F.col("corpus_id")) & (F.col("_bid") == F.col("bench_id")),
        )
        .groupBy("corpus_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    jac = F.col("inter") / (F.col("sz_c") + F.col("sz_b") - F.col("inter"))
    return (
        inter.join(sz_c.select(F.col("id").alias("corpus_id"), "sz_c"), "corpus_id")
        .join(
            F.broadcast(sz_b.select(F.col("id").alias("bench_id"), "sz_b")), "bench_id"
        )
        .select("corpus_id", "bench_id", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


# ----------------------------------------------- exact shared spans
def _positional_shingles(
    docs: DataFrame, k: int, id_col: str, text_col: str
) -> DataFrame:
    """(id, pos, h): md5 over each run of ``k`` consecutive whitespace
    tokens, 1-based start position. Documents shorter than k tokens
    contribute nothing (they are whole-doc dedup's problem, not span
    dedup's). Pure map-side array expressions — one corpus scan."""
    toks = docs.select(F.col(id_col).alias("id"), tokenize(text_col).alias("t"))
    return (
        toks.where(F.size("t") >= k)
        .select(
            "id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("t") - k + 1),
                    lambda i: F.struct(
                        i.cast("int").alias("pos"),
                        F.md5(
                            F.array_join(F.slice(F.col("t"), i, k), " ").cast("binary")
                        ).alias("h"),
                    ),
                )
            ).alias("s"),
        )
        .select("id", F.col("s.pos").alias("pos"), F.col("s.h").alias("h"))
    )


def positional_shingles_with_df(
    docs: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(h, id, pos, df): every positional shingle annotated with its
    corpus doc-frequency — the shared substrate of span DEDUP (df in
    2..max_df) and BOILERPLATE removal (df >= threshold). A pipeline
    running several span passes should materialize this once and slice
    df ranges from it."""
    sh = _positional_shingles(docs, k, id_col, text_col)
    df_tab = sh.groupBy("h").agg(F.count_distinct("id").alias("df"))
    return sh.join(df_tab, "h")


def _df_range(with_df: DataFrame, min_df: int, max_df: int | None) -> DataFrame:
    cond = F.col("df") >= min_df
    if max_df is not None:
        # the upper cap fences boilerplate shingles (licenses, headers)
        # out of the pair join — at corpus scale a shingle shared by
        # millions of docs would otherwise create a quadratic hot
        # bucket; such spans are boilerplate-removal's domain (no cap,
        # no self-join), not pair analysis's
        cond = cond & (F.col("df") <= max_df)
    return with_df.where(cond)


def shared_positional_shingles(
    docs: DataFrame,
    k: int = 8,
    max_df: int | None = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 2,
) -> DataFrame:
    """(id, pos, h, df) restricted to shingles with doc-frequency in
    [min_df, max_df] — the common input of ``shared_span_pairs``
    (detection) and ``scrub_shared_spans`` (removal)."""
    return _df_range(
        positional_shingles_with_df(docs, k, id_col, text_col), min_df, max_df
    )


def shared_span_pairs(
    docs: DataFrame,
    k: int = 8,
    min_shared: int = 3,
    max_df: int | None = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
    shared: DataFrame | None = None,
) -> DataFrame:
    """Cross-document EXACT duplicated spans — the detection half of
    suffix-style training-data dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better", public): document
    pairs sharing >= ``min_shared`` distinct k-token runs, with the
    span extent in each document.

    Returns (id_a, id_b, n_shared, a_min_pos, a_max_pos, b_min_pos,
    b_max_pos), id_a < id_b, positions 1-based token indexes.

    Scale shape: candidates come from an equi-join on the shingle hash
    restricted to cross-document shingles with doc-frequency <= max_df
    (hot-bucket fence), so cost is Σ df² over surviving shingles —
    never corpus×corpus. MinHash answers "are these documents similar";
    this answers "exactly WHICH token ranges are copied", which is what
    a surgical span-removal pass needs."""
    if shared is None:
        shared = shared_positional_shingles(docs, k, max_df, id_col, text_col)
    a, b = shared.alias("a"), shared.alias("b")
    return (
        a.join(b, "h")
        .where(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(
            F.count_distinct("h").cast("long").alias("n_shared"),
            F.min("a.pos").alias("a_min_pos"),
            F.max("a.pos").alias("a_max_pos"),
            F.min("b.pos").alias("b_min_pos"),
            F.max("b.pos").alias("b_max_pos"),
        )
        .where(F.col("n_shared") >= min_shared)
    )


def scrub_shared_spans(
    docs: DataFrame,
    k: int = 8,
    max_df: int | None = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
    shared: DataFrame | None = None,
    min_df: int = 2,
) -> DataFrame:
    """Span-level dedup REMOVAL (the cutting half of Lee et al. 2022):
    every token covered by any k-token run that also appears in another
    document (doc-frequency 2..max_df) is cut; the survivors are
    re-joined in order. Returns (id_col, n_tokens, n_removed,
    clean_fingerprint) with the md5 of the cleaned token stream — the
    compact, hash-checkable witness of the rewrite (the cleaned text
    itself is one array_join away for a pipeline that wants it).

    Scale shape: coverage explodes each shared shingle into its k token
    positions and distincts per (doc, position) — work proportional to
    duplicated volume, not corpus volume; the rebuild is one keyed
    groupBy whose collected row is bounded by the document length
    (the same bound the text column itself already imposes).

    ``min_df``/``max_df`` pick the removal regime: the default (2..50)
    is near-dup span dedup; ``min_df=<boilerplate threshold>,
    max_df=None`` removes BOILERPLATE — spans repeated across so many
    documents (licenses, navigation chrome, headers) that they carry
    no training signal. Boilerplate removal has no pair join, so the
    no-upper-cap regime stays linear in duplicated volume."""
    if shared is None:
        shared = shared_positional_shingles(docs, k, max_df, id_col, text_col, min_df)
    covered = (
        shared.select(
            "id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(k - 1))
            ).alias("tp"),
        )
        .distinct()
    )
    tokp = docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(tokenize(text_col)).alias("p0", "tok"),
    ).select("id", (F.col("p0") + 1).cast("int").alias("tp"), "tok")
    kept = tokp.join(covered, ["id", "tp"], "left_anti")
    rebuilt = kept.groupBy("id").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("tp"), F.col("tok")))
                    ),
                    lambda s: s["tok"],
                ),
                " ",
            ).cast("binary")
        ).alias("clean_fingerprint"),
    )
    totals = docs.select(
        F.col(id_col).alias("id"), F.size(tokenize(text_col)).cast("long").alias("n_tokens")
    )
    return totals.join(rebuilt, "id", "left").select(
        F.col("id").alias(id_col),
        "n_tokens",
        (F.col("n_tokens") - F.coalesce(F.col("n_kept"), F.lit(0)))
        .cast("long")
        .alias("n_removed"),
        F.coalesce(F.col("clean_fingerprint"), F.md5(F.lit("").cast("binary"))).alias(
            "clean_fingerprint"
        ),
    )
