"""Deduplication operators — the LLM-training-pipeline surface.

Absent from the reference (its only dedup-ish op is the presence-TF
``distinct``, RDD_logisticregression.py:84); these are the operators a
100 TB text corpus actually needs, built Spark-first:

  * ``exact``      — content-hash groupBy (sha256), keep-first.
  * ``minhash LSH``— shingle → k minhashes → banded buckets → candidate
                     pairs → exact-Jaccard verify. Subquadratic: only
                     docs sharing a band bucket are compared.
  * ``ngram jaccard`` — exact all-pairs via inverted shingle index
                     (pairs sharing ≥1 shingle only — the exact-but-
                     indexed baseline LSH is checked against).
  * ``simhash``    — 64-bit bit-majority fingerprint; near-dups =
                     small Hamming distance.
  * ``embedding cosine`` — near-dup pairs above a cosine threshold.

Engine-independence note (this is what makes every step DuckDB-oracle-
able): all hashing is ``md5``/``sha2`` over explicit strings, and
minhash uses the *lexicographic minimum of md5 hex digests* under k
salted copies — a perfectly valid permutation family that both engines
compute bit-identically, with no hex→int conversion (which the two
engines expose differently).

Scale notes: every operator is shuffle-bounded by its key —
content-hash, (band_id, band_hash), shingle, or embedding bucket —
never an unkeyed cross join. Skewed buckets (stop-shingles) are the
known hazard: ``ngram_jaccard_pairs`` takes a ``max_docs_per_shingle``
frequency cut, the standard guard in published dedup pipelines.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import store


# ---------------------------------------------------------------------------
# exact
# ---------------------------------------------------------------------------


def exact_duplicate_groups(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Group by sha256(text): (content_hash, keep_id, n_docs).

    keep_id = min id — the deterministic keep-first rule. Hashing before
    the shuffle means 32-byte keys move, not document bodies.
    """
    h = F.sha2(F.col(text_col), 256).alias("content_hash")
    return (
        docs.select(h, F.col(id_col))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_docs"))
    )


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Surviving rows after exact dedup (keep lowest id per content hash)."""
    keep = exact_duplicate_groups(docs, text_col, id_col).select(
        F.col("keep_id").alias(id_col)
    )
    return docs.join(keep, id_col, "left_semi")


# ---------------------------------------------------------------------------
# shingling + minhash
# ---------------------------------------------------------------------------


def word_shingles(tokens: Column | str, n: int = 3) -> Column:
    """Distinct word n-grams as space-joined strings.

    transform(sequence(0, size-n)) — pure Catalyst, no explode needed at
    this stage; arrays stay row-local until the LSH bucketing explodes
    bands (k·bands rows/doc, not |shingles| rows/doc).

    The token array is ``flet``-bound before the per-position slicing:
    when callers pass a derived expression (regex tokenization, not a
    materialized column), Catalyst would otherwise inline it into the
    transform lambda and re-tokenize once PER SHINGLE — O(tokens²·regex)
    per row, a scale-killer on long documents (functions/expr.py).
    """
    from ..functions.expr import flet

    t = F.col(tokens) if isinstance(tokens, str) else tokens

    def build(tt: Column) -> Column:
        grams = F.transform(
            F.sequence(F.lit(0), F.size(tt) - n),
            lambda i: F.concat_ws(" ", F.slice(tt, i + 1, n)),
        )
        # guard: docs shorter than n tokens have no shingles (empty array)
        return F.array_distinct(F.when(F.size(tt) >= n, grams).otherwise(F.array()))

    return flet(t, build)


def minhash_signature(shingles: Column | str, k: int = 12, hash_fn: str = "md5") -> Column:
    """k-minhash signature: sig[i] = min over shingles of hash_i(shingle).

    ``hash_fn='md5'`` (default, the ORACLE-PARITY family): lexicographic
    min over salted md5 hex digests ≡ minhash under k pseudo-random
    permutations. All string ops ⇒ identical in DuckDB.

    ``hash_fn='xxhash64'`` (the PRODUCTION family): numeric min over
    seeded xxhash64 longs — Spark's native 64-bit hash. Same minhash
    semantics under a different permutation family, at a fraction of the
    cost: 8-byte longs instead of 32-char hex strings (4× smaller
    signatures in flight) and no digest hex-encoding per shingle. Not
    SQL-oracle-able (DuckDB has no xxhash64 with Spark's seeding), so
    the oracle-checked query keeps md5; flip this flag at deployment.
    """
    s = F.col(shingles) if isinstance(shingles, str) else shingles
    if hash_fn == "xxhash64":
        return F.array(
            *[
                F.array_min(F.transform(s, lambda x: F.xxhash64(F.lit(i), x)))
                for i in range(k)
            ]
        )
    if hash_fn != "md5":
        raise ValueError(f"hash_fn={hash_fn!r}: expected 'md5' or 'xxhash64'")
    return F.array(
        *[
            F.array_min(F.transform(s, lambda x: F.md5(F.concat(F.lit(f"{i}~"), x))))
            for i in range(k)
        ]
    )


def _shingle_sets(
    docs: DataFrame, tokens_col: str = "tokens", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """(doc_id, shingles) for docs with ≥ n tokens.

    The token-count pre-filter matters: docs shorter than n tokens have
    no shingles ⇒ an all-null signature, and a null-check on the
    signature itself gets pushed below the projection and re-evaluates
    the entire md5 fold a second time (measured 2×).
    """
    from ..sources.io import ensure_parallelism

    docs = ensure_parallelism(docs)
    return docs.where(F.size(F.col(tokens_col)) >= n).select(
        F.col(id_col).alias("doc_id"), word_shingles(F.col(tokens_col), n).alias("shingles")
    )


def _band_buckets_from_shingles(
    shingle_sets: DataFrame, k: int, bands: int, hash_fn: str = "md5"
) -> DataFrame:
    """(doc_id, band_id, band_hash) from a (doc_id, shingles) table.

    sig is materialized by ONE projection; banding explodes a small
    struct array in a SECOND projection. (A union of per-band branches
    would re-evaluate the hash-heavy signature once per band — measured
    4× the runtime at sf0.1.) In xxhash64 mode the band key is a long
    (xxhash64 of the signature slice), not a 32-char md5 string — the
    bucket shuffle moves 8-byte keys.
    """
    assert k % bands == 0, "k must divide evenly into bands"
    r = k // bands
    sig = minhash_signature(F.col("shingles"), k, hash_fn)
    with_sig = shingle_sets.select("doc_id", sig.alias("sig"))

    def band_hash(b: int) -> Column:
        if hash_fn == "xxhash64":
            return F.xxhash64(F.slice("sig", b * r + 1, r))
        return F.md5(F.concat_ws("|", F.slice("sig", b * r + 1, r)))

    band_arr = F.array(
        *[
            F.struct(F.lit(b).alias("band_id"), band_hash(b).alias("band_hash"))
            for b in range(bands)
        ]
    )
    return with_sig.select("doc_id", F.explode(band_arr).alias("bb")).select(
        "doc_id", F.col("bb.band_id").alias("band_id"), F.col("bb.band_hash").alias("band_hash")
    )


def lsh_band_buckets(
    docs: DataFrame,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    n: int = 3,
    k: int = 12,
    bands: int = 4,
    hash_fn: str = "md5",
) -> DataFrame:
    """(doc_id, band_id, band_hash): one row per (doc, band).

    band_hash = hash of the band's r = k/bands signature slice. Docs
    with no shingles emit nothing.
    """
    return _band_buckets_from_shingles(
        _shingle_sets(docs, tokens_col, id_col, n), k, bands, hash_fn
    )


def minhash_candidate_pairs(
    docs: DataFrame,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    n: int = 3,
    k: int = 12,
    bands: int = 4,
    max_docs_per_bucket: int = 1000,
    hash_fn: str = "md5",
) -> DataFrame:
    """Distinct candidate (doc_a < doc_b) pairs sharing ≥1 band bucket.

    The bucket self-join is keyed on (band_id, band_hash) — the shuffle
    moves (doc_id, hash-key) rows only. Bucket sizes are ~Poisson
    under random hashing; buckets above ``max_docs_per_bucket`` (mass
    near-dup clusters) are dropped — see ``_bucket_pairs``.
    """
    return _bucket_pairs(
        lsh_band_buckets(docs, tokens_col, id_col, n, k, bands, hash_fn),
        max_docs_per_bucket,
    )


def _bucket_pairs(band_buckets: DataFrame, max_docs_per_bucket: int = 1000) -> DataFrame:
    """Distinct (doc_a < doc_b) pairs co-bucketed in ≥1 band.

    One hash-agg per bucket, then pairs generated row-locally from the
    sorted member list — no self-join, so the signature lineage runs
    exactly once. (The self-join formulation re-evaluated it for each
    side.)

    ``max_docs_per_bucket`` is the skew guard, mirroring
    ``ngram_jaccard_pairs.max_docs_per_shingle``: at corpus scale a
    templated-document cluster (same boilerplate, different bodies) puts
    m docs in one bucket → an m-element collect_list row and m²/2 pairs
    on a single executor. Buckets above the cap are dropped — a cluster
    that large is a mass-duplication signal better handled by exact
    dedup first (the standard pipeline order this operator assumes).
    """
    buckets = (
        band_buckets.groupBy("band_id", "band_hash")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .where((F.size("ids") >= 2) & (F.size("ids") <= max_docs_per_bucket))
    )
    ids = F.col("ids")
    pair_arr = F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + 2, F.size(ids)),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    return (
        buckets.select(F.explode(pair_arr).alias("p"))
        .select(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .distinct()
    )


def minhash_dedup_pairs(
    docs: DataFrame,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    n: int = 3,
    k: int = 12,
    bands: int = 4,
    threshold: float = 0.7,
    max_docs_per_bucket: int = 1000,
    hash_fn: str = "md5",
    shingles: DataFrame | None = None,
) -> DataFrame:
    """LSH candidates verified with exact Jaccard ≥ threshold.

    Returns (doc_a, doc_b, jaccard). The verify joins each side's
    distinct-shingle array back in; candidate cardinality (not corpus
    size) bounds the cost. ``hash_fn='xxhash64'`` switches the signature
    to the native-long production family (see ``minhash_signature``);
    the verify step is hash-independent, so results differ only where a
    borderline pair lands in a band under one family and not the other.

    ``shingles``: optional pre-computed (doc_id, shingles) table — MUST
    be ``_shingle_sets(docs, tokens_col, id_col, n)`` semantics and
    already materialized (localCheckpoint) by the caller. Used by
    pipeline composition (operators/pipeline.corpus_funnel) to pay for
    the corpus shingle scan once across dedup + decontamination.
    """
    # ONE shingle computation feeds the signature/banding AND both verify
    # join sides (docs with <n tokens have no shingles and can never be
    # candidates, so the pre-filter does not change results)
    shingle_sets = (
        shingles
        if shingles is not None
        else _shingle_sets(docs, tokens_col, id_col, n).localCheckpoint()
    )
    cands = _bucket_pairs(
        _band_buckets_from_shingles(shingle_sets, k, bands, hash_fn), max_docs_per_bucket
    )
    a = shingle_sets.select(
        F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a")
    )
    b = shingle_sets.select(
        F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b")
    )
    joined = cands.join(a, "doc_a").join(b, "doc_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = (F.size("sh_a") + F.size("sh_b")).cast("double") - inter
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return (
        joined.select("doc_a", "doc_b", F.round(jac, 8).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def canonical_corpus(
    docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """The deduplicated corpus itself: rows of ``docs`` that survive
    near-dup clustering under the keep-first rule.

    ``pairs`` is any (doc_a, doc_b, …) near-dup pair table (minhash,
    simhash, embedding — they all fit); clusters come from the
    star-contraction connected components (operators/graph.py), whose
    ``component_id`` is already the min doc id, so the drop set is
    simply members with ``doc_id != component_id``. The final join is a
    LEFT ANTI against that drop list of bare ids — deliberately
    hint-free: at a few-percent duplicate rate the list broadcasts (AQE
    picks that up from its runtime size), while a pathological corpus
    with billions of duplicates degrades to a shuffled anti join of
    8-byte keys instead of OOMing the driver on a forced broadcast.
    """
    from .graph import duplicate_clusters

    drop = (
        duplicate_clusters(pairs)
        .where(F.col("doc_id") != F.col("component_id"))
        .select(F.col("doc_id").alias(id_col))
    )
    return docs.join(drop, id_col, "left_anti")


# ---------------------------------------------------------------------------
# exact n-gram jaccard (inverted index)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    docs: DataFrame,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_docs_per_shingle: int = 1000,
) -> DataFrame:
    """Exact Jaccard ≥ threshold over word n-grams, via inverted index.

    explode shingles → (optionally drop stop-shingles appearing in more
    than ``max_docs_per_shingle`` docs — the skew guard) → self-join on
    shingle → count common shingles per pair → Jaccard. Only pairs
    sharing ≥1 (kept) shingle are ever materialized.
    """
    from ..sources.io import ensure_parallelism

    sets = ensure_parallelism(docs).select(
        F.col(id_col).alias("doc_id"),
        word_shingles(F.col(tokens_col), n).alias("shingles"),
    ).where(F.size("shingles") > 0)
    # three consumers (postings, both size joins) would each re-run the
    # tokenize→shingle lineage; materialize it once (see features.tf_idf)
    sets = sets.localCheckpoint()
    sizes = sets.select("doc_id", F.size("shingles").alias("n_sh"))
    inv = sets.select("doc_id", F.explode("shingles").alias("shingle"))
    # postings list per shingle in ONE hash-agg; the frequency cut (skew
    # guard) and pair generation happen on the grouped row — no second
    # pass over the corpus, no posting-list self-join
    postings = (
        inv.groupBy("shingle")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .where((F.size("ids") >= 2) & (F.size("ids") <= max_docs_per_shingle))
    )
    ids = F.col("ids")
    pair_arr = F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + 2, F.size(ids)),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    common = (
        postings.select(F.explode(pair_arr).alias("p"))
        .groupBy(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    out = (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double"),
                8,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return out


# ---------------------------------------------------------------------------
# simhash
# ---------------------------------------------------------------------------


def simhash_fingerprints(
    docs: DataFrame, tokens_col: str = "tokens", id_col: str = "doc_id",
    hash_fn: str = "md5",
) -> DataFrame:
    """(doc_id, simhash): 64-bit SimHash as a 64-char '0'/'1' string
    (bit 0 first) for every doc with ≥1 token.

    ``hash_fn='md5'`` (default, ORACLE-PARITY): bit j = big-endian bit j
    of the token's md5 hex digest (first 16 hex chars); fingerprint bit
    = majority vote over distinct tokens, ties → 0 — the same value the
    DuckDB oracle derives by nibble parsing (queries._simhash_sql),
    asserted bit-identical in tests.

    ``hash_fn='xxhash64'`` (PRODUCTION): bit j = big-endian bit j of
    Spark's native ``xxhash64(token)`` — the long IS the 64 bits, so
    the per-token cost drops from md5 + hex parse to one JVM hash and
    the bit reads are plain shifts. Same simhash semantics under a
    different (not SQL-oracle-able) hash family.

    Three projections on purpose:
    1. hash per distinct token — md5 parsed ONCE into two 32-bit ints
       (``conv`` of each 8-hex-char half — 64 bits never touch a signed
       overflow), or the raw xxhash64 long. Materializing this first
       matters: inlining makes every downstream bit read re-run the
       hash transform (measured 64× hash work via 64 md5 occurrences
       in the plan, 4× wall at sf0.1).
    2. ONE fold summing per-token ±1 contribution vectors
       (``zip_with`` over a 64-int array). The previous formulation —
       64 separate ``aggregate`` folds, each re-traversing the hash
       array with instr/substring nibble parsing — generated ~3×
       the codegen (slower to compile AND run; measured 10.4 s → 7.1 s
       first-run, 4.5 s → 3.1 s steady at sf0.1).
    3. majority vote → bit string.

    Pure projection, no shuffle. ``ensure_parallelism`` guards the
    single-row-group-input case where the fold would otherwise run on
    one task (sources/io.py).
    """
    from ..sources.io import ensure_parallelism

    docs = ensure_parallelism(docs)
    distinct_toks = F.array_distinct(F.col(tokens_col))
    if hash_fn == "xxhash64":
        hashes = F.transform(distinct_toks, lambda x: F.xxhash64(x))

        def contrib(x: Column) -> Column:
            return F.array(
                *[
                    F.when(
                        F.shiftright(x, 63 - j).bitwiseAND(F.lit(1)) == 1, F.lit(1)
                    ).otherwise(F.lit(-1))
                    for j in range(64)
                ]
            )

    elif hash_fn == "md5":
        hashes = F.transform(
            F.transform(distinct_toks, lambda x: F.md5(x)),
            lambda hx: F.struct(
                F.conv(F.substring(hx, 1, 8), 16, 10).cast("long").alias("v1"),
                F.conv(F.substring(hx, 9, 8), 16, 10).cast("long").alias("v2"),
            ),
        )

        def contrib(x: Column) -> Column:
            return F.array(
                *[
                    F.when(
                        F.shiftright(
                            x["v1"] if j < 32 else x["v2"],
                            (31 - j) if j < 32 else (63 - j),
                        ).bitwiseAND(F.lit(1))
                        == 1,
                        F.lit(1),
                    ).otherwise(F.lit(-1))
                    for j in range(64)
                ]
            )

    else:
        raise ValueError(f"hash_fn={hash_fn!r}: expected 'md5' or 'xxhash64'")

    hashed = docs.where(F.size(F.col(tokens_col)) > 0).select(
        F.col(id_col).alias("doc_id"), hashes.alias("_h")
    )

    sums = F.aggregate(
        F.col("_h"),
        F.array(*[F.lit(0)] * 64),
        lambda acc, x: F.zip_with(acc, contrib(x), lambda a, c: a + c),
    )
    with_sums = hashed.select("doc_id", sums.alias("_s"))
    bits = [
        F.when(F.element_at("_s", j + 1) > 0, F.lit("1")).otherwise(F.lit("0"))
        for j in range(64)
    ]
    return with_sums.select("doc_id", F.concat(*bits).alias("simhash"))


def simhash_band_segments(bands: int, n_bits: int = 64) -> list[tuple[int, int]]:
    """(1-based start, length) of each band segment, covering ALL bits.

    64 rarely divides evenly by ``max_hamming + 1`` bands, so the first
    ``n_bits % bands`` segments get one extra bit — a truncating 64//bands
    split would leave trailing bits in no band, silently missing pairs
    that differ only there. Shared with the DuckDB oracle (queries.py).
    """
    base, rem = divmod(n_bits, bands)
    out, pos = [], 1
    for b in range(bands):
        ln = base + (1 if b < rem else 0)
        out.append((pos, ln))
        pos += ln
    return out


def _simhash_band_buckets(fp: DataFrame, bands: int, combo_size: int = 1) -> DataFrame:
    """(doc_id, band_id, band_hash) by exploding the blocking-key array
    from ONE fingerprint projection — same shape as
    ``_band_buckets_from_shingles``. (A unionAll-of-branches formulation
    re-evaluated the md5+64-bit-fold lineage once per band and again per
    self-join side, ~8× the hash work.)

    ``combo_size=1``: one key per segment (classic pigeonhole banding).
    ``combo_size=c>1``: one key per c-subset of segments (band_hash =
    concatenated segment values, band_id = combo index) — C(bands, c)
    keys per doc, keyspace ~2^(64·c/bands) per key. See
    ``simhash_near_pairs`` for when each is the right trade.
    """
    import itertools

    segs = simhash_band_segments(bands)
    combos = list(itertools.combinations(range(bands), combo_size))
    band_arr = F.array(
        *[
            F.struct(
                F.lit(ci).alias("band_id"),
                F.concat(
                    *[F.substring("simhash", segs[s][0], segs[s][1]) for s in combo]
                ).alias("band_hash"),
            )
            for ci, combo in enumerate(combos)
        ]
    )
    return fp.select("doc_id", F.explode(band_arr).alias("bb")).select(
        "doc_id", F.col("bb.band_id").alias("band_id"), F.col("bb.band_hash").alias("band_hash")
    )


def simhash_near_pairs(
    docs: DataFrame,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    max_hamming: int = 8,
    bands: int | None = None,
    combo_size: int | None = None,
    max_docs_per_bucket: int = 1000,
    hash_fn: str = "md5",
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ max_hamming.
    ``hash_fn='xxhash64'`` switches the fingerprint to the native-long
    production family (see ``simhash_fingerprints``); blocking, verify,
    and the lossless-radius guarantee are hash-independent.

    Combination-of-segments blocking (Manku et al., WWW'07): the 64 bits
    split into ``bands`` segments; a pair at distance d ≤ max_hamming
    differs in at most d segments, so it agrees exactly on some
    ``bands - max_hamming`` of them — blocking on every
    ``combo_size``-subset of segments is LOSSLESS for the advertised
    radius whenever ``combo_size <= bands - max_hamming``, and the
    result equals the exact all-pairs filter (what the DuckDB oracle
    checks). Configs violating that bound silently miss pairs whose
    differing bits spread across every key, so they're rejected.

    The blocking trade, made explicit because it decides whether the
    operator works at corpus scale:

    * ``combo_size=1`` with ``bands = max_hamming + 1`` is classic
      pigeonhole banding — cheapest (d+1 key rows/doc) but each key has
      only 64/(d+1) bits ⇒ ~2^(64//(d+1)) distinct values per band, so
      with the ``max_docs_per_bucket`` skew cap every bucket saturates
      (and is dropped) once the corpus passes roughly
      ``max_docs_per_bucket · 2^(64//(d+1))`` docs — ~256k docs at the
      default radius 8. Fine for small partitions / the SQL oracle;
      wrong as a 100 TB default.
    * Defaults ``bands = max_hamming + 3``, ``combo_size = 3``:
      C(bands, 3) key rows/doc (165 at d=8, 20 at d=3) but each key
      carries 3·64/bands bits (~2^17 values at d=8, 2^32 at d=3), so
      random-fingerprint buckets stay tiny at billion-doc scale. Key
      rows are (doc_id, int, ≤33-char string) — the explode factor
      buys keyspace, the standard simhash-at-scale trade.

    Same bucket shape as minhash LSH: one fingerprint projection feeds
    blocking and both verify sides; ``max_docs_per_bucket`` guards
    mass-duplication skew (see ``_bucket_pairs``; run exact dedup first
    so identical docs don't flood buckets).
    """
    bands, combo_size = _simhash_blocking_params(max_hamming, bands, combo_size)
    fp = simhash_fingerprints(docs, tokens_col, id_col, hash_fn).localCheckpoint()
    cands = _bucket_pairs(_simhash_band_buckets(fp, bands, combo_size), max_docs_per_bucket)
    # Hamming verify: parse each fingerprint into two 32-bit ints ONCE per
    # doc, so the per-candidate cost is bit_count(xor) — the naive per-pair
    # formulation (split both 64-char strings + zip_with) paid the string
    # work per candidate and was ~3× slower at sf0.1 (candidates ≫ docs on
    # a Hamming-clustered corpus).
    hi = F.conv(F.substring("simhash", 1, 32), 2, 10).cast("long")
    lo = F.conv(F.substring("simhash", 33, 32), 2, 10).cast("long")
    a = fp.select(F.col("doc_id").alias("doc_a"), hi.alias("hi_a"), lo.alias("lo_a"))
    b = fp.select(F.col("doc_id").alias("doc_b"), hi.alias("hi_b"), lo.alias("lo_b"))
    joined = cands.join(a, "doc_a").join(b, "doc_b")
    ham = F.bit_count(F.col("hi_a").bitwiseXOR(F.col("hi_b"))) + F.bit_count(
        F.col("lo_a").bitwiseXOR(F.col("lo_b"))
    )
    return joined.select("doc_a", "doc_b", ham.alias("hamming")).where(
        F.col("hamming") <= max_hamming
    )


# ---------------------------------------------------------------------------
# substring-level duplication (repeated n-gram coverage)
# ---------------------------------------------------------------------------


def duplicated_ngram_coverage(
    docs: DataFrame,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    n: int = 5,
    min_df: int = 2,
    hash_fn: str = "md5",
) -> DataFrame:
    """Per-document coverage by token n-grams repeated across the corpus:
    (doc_id, n_tokens, n_dup_ngrams, dup_coverage).

    The document-level dedup family above treats a document as one unit;
    substring-level duplication (boilerplate headers, license blocks,
    templated paragraphs pasted into otherwise-distinct pages) slips
    through it. Published pipelines (Lee et al., "Deduplicating Training
    Data Makes Language Models Better", ACL 2022) remove any 50-token
    span occurring twice; a suffix array is the single-node tool, and
    this operator is its shuffle-bounded Spark counterpart at n-gram
    granularity: a position is "duplicated" if any n-token window
    containing it occurs in ≥ ``min_df`` DISTINCT documents.
    ``dup_coverage`` is the fraction of token positions so covered —
    the filter signal (drop or trim docs above a threshold).

    Shape, stage by stage (nothing quadratic, nothing unkeyed):
      1. one projection emits (doc_id, start, gram_key) via posexplode —
         the token array is ``flet``-bound so a derived tokens
         expression is evaluated once per row, not once per position;
      2. gram document-frequency is ONE hash agg on the key (map-side
         partial on (key, doc_id) then distinct-count); only keys and
         counts shuffle, never text;
      3. positions join back to keys with df ≥ min_df (the duplicated
         minority — boilerplate is typically <10% of grams), then one
         per-doc window-lag computes the INTERVAL UNION of the n-wide
         windows: union_len = Σ min(n, start_i − start_{i−1}) over
         sorted starts. Equal-length intervals make the union a lag
         one-liner — no segment-tree, no per-doc collect.

    The exploded (doc_id, start, key) projection feeds both the df agg
    and the join-back, so it is localCheckpoint-ed once (the tfidf_long
    lesson: recomputing a tokenize+explode for each consumer measured
    2-3× end-to-end).

    100 TB: the gram table is the giant — ``hash_fn='xxhash64'``
    (production family) shuffles 8-byte longs; ``'md5'`` (default) keeps
    32-char hex for DuckDB oracle parity, same structure. At corpus
    scale the df agg is the dominant shuffle and is exactly the
    shuffle a distributed suffix-array build would also pay; min_df
    keeps the join-back side small. The window shuffle moves only
    (doc_id, start) int pairs for duplicated positions.
    """
    from ..functions.expr import flet

    if hash_fn == "md5":
        key = F.md5(F.col("gram"))
    elif hash_fn == "xxhash64":
        key = F.xxhash64(F.col("gram"))
    else:
        raise ValueError(f"hash_fn={hash_fn!r}: expected 'md5' or 'xxhash64'")

    toks = docs.select(
        F.col(id_col).alias("doc_id"), F.col(tokens_col).alias("tokens")
    )
    n_tok = toks.select("doc_id", F.size("tokens").cast("long").alias("n_tokens"))

    def gram_array(tt: Column) -> Column:
        grams = F.transform(
            F.sequence(F.lit(0), F.size(tt) - n),
            lambda i: F.concat_ws("\x1f", F.slice(tt, i + 1, n)),
        )
        return F.when(F.size(tt) >= n, grams).otherwise(F.array())

    keyed = (
        toks.select("doc_id", flet(F.col("tokens"), gram_array).alias("grams"))
        .select("doc_id", F.posexplode("grams").alias("start", "gram"))
        .select("doc_id", "start", key.alias("g"))
        .localCheckpoint()
    )
    dup_keys = (
        keyed.groupBy("g")
        .agg(F.count_distinct("doc_id").alias("df"))
        .where(F.col("df") >= min_df)
        .select("g")
    )
    dup = keyed.join(dup_keys, "g").select("doc_id", "start")

    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("start")
    cov = (
        dup.withColumn("prev", F.lag("start").over(w))
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.when(F.col("prev").isNull(), F.lit(n)).otherwise(
                    F.least(F.lit(n), F.col("start") - F.col("prev"))
                )
            ).alias("n_dup_tokens"),
            F.count(F.lit(1)).alias("n_dup_ngrams"),
        )
    )
    return n_tok.join(cov, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce("n_dup_ngrams", F.lit(0)).cast("long").alias("n_dup_ngrams"),
        F.when(
            F.col("n_tokens") > 0,
            F.round(
                F.coalesce("n_dup_tokens", F.lit(0)) / F.col("n_tokens"), 8
            ),
        ).alias("dup_coverage"),
    )


def dedup_lines(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int = 2,
    hash_fn: str = "md5",
) -> DataFrame:
    """Line-level corpus dedup: (doc_id, n_lines, n_dropped, clean_md5)
    where the clean text drops every line occurring in ≥ ``min_df``
    distinct documents — the C4/RefinedWeb boilerplate pass (nav menus,
    cookie banners, copyright footers repeat across a site's every page
    and survive document-level dedup untouched).

    Three stages, same discipline as the rest of the family:
      1. one posexplode projection emits (doc_id, idx, line, line_key);
         localCheckpoint-ed because both the frequency agg and the
         rewrite consume it;
      2. the hot-line set is one hash agg on the key (distinct-doc
         count, only keys shuffle) — the "drop list" is bare hashes;
      3. surviving lines LEFT ANTI the hot set (AQE broadcasts a small
         boilerplate dictionary, degrades to a shuffled anti-join of
         hashes when it isn't small — the canonical_corpus rationale),
         then ONE groupBy(doc_id) reassembles the text in line order
         via sort_array(collect_list(struct(idx, line))).

    The reassembly is the one corpus-BODY shuffle in the hygiene suite
    — inherent: the operator's output is the rewritten corpus, and at
    100 TB that shuffle is the write's repartition. Dropping all copies
    (not keep-one) is the published C4 line rule; an exact-duplicate
    document's body lines therefore empty out here — the exact-dedup
    pass upstream owns keep-one semantics.
    """
    if hash_fn == "md5":
        key = F.md5(F.col("line"))
    elif hash_fn == "xxhash64":
        key = F.xxhash64(F.col("line"))
    else:
        raise ValueError(f"hash_fn={hash_fn!r}: expected 'md5' or 'xxhash64'")

    base = docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    keyed = (
        base.select("doc_id", F.posexplode(F.split("text", "\n")).alias("idx", "line"))
        .select("doc_id", "idx", "line", key.alias("h"))
        .localCheckpoint()
    )
    hot = (
        keyed.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("df"))
        .where(F.col("df") >= min_df)
        .select("h")
    )
    kept = keyed.join(hot, "h", "left_anti")
    rewritten = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "line"))),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("clean"),
    )
    totals = base.select(
        "doc_id", F.size(F.split("text", "\n")).cast("long").alias("n_lines")
    )
    return totals.join(rewritten, "doc_id", "left").select(
        "doc_id",
        "n_lines",
        (F.col("n_lines") - F.coalesce("n_kept", F.lit(0))).cast("long").alias(
            "n_dropped"
        ),
        F.md5(F.coalesce("clean", F.lit(""))).alias("clean_md5"),
    )


# ---------------------------------------------------------------------------
# embedding cosine near-dups
# ---------------------------------------------------------------------------


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
) -> DataFrame:
    """Pairs with cosine ≥ threshold (exact, all-pairs).

    Exact baseline: O(n²) — correct at test scale and as the verifier
    for the LSH path (similarity.py provides the subquadratic variant).
    Cosine computed in double via a sequential fold, rounded to 6dp
    BEFORE thresholding so the oracle agrees at the boundary.
    """
    from ..functions.vector import dot, unit_normalized

    # normalize each vector ONCE per row (n folds), so each of the n²/2
    # pairs costs a single dot-product fold — the naive per-pair cosine
    # evaluates three folds per pair (dot + both norms), measured 3× the
    # runtime at sf0.1
    normed = unit_normalized(embeddings, vec_col, "nv")
    a = normed.select(F.col(id_col).alias("id_a"), F.col("nv").alias("na"))
    b = normed.select(F.col(id_col).alias("id_b"), F.col("nv").alias("nb"))
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    cos = F.round(dot(F.col("na"), F.col("nb")), 6)
    return pairs.select("id_a", "id_b", cos.alias("cosine")).where(
        F.col("cosine") >= threshold
    )


def semantic_cluster_assign(
    embeddings: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    via: str = "literal",
) -> DataFrame:
    """(id, vec, list_id): each vector labeled with its nearest centroid.
    Ties break to the lowest list_id either way. Both paths are pure
    per-row work — zero shuffle, zero join — but they trade off by
    quantizer size:

      * ``via='literal'`` — the quantizer is literal-compiled
        (similarity.centroid_assign_col) into one whole-stage-codegen
        expression. Exactly mirrors the DuckDB oracle; right for small
        quantizers (≲64 lists — beyond that the expression itself is
        O(k·dim) plan text and plan BUILD time dominates, see
        similarity._dot_sql).
      * ``via='pandas'`` — Arrow-batched pandas_udf: the centroid matrix
        rides the UDF closure once per executor and each batch is ONE
        BLAS matmul (b×d @ d×k). The production path for
        SemDeDup-scale quantizers (k grows with the corpus to hold
        cluster size constant); equality with the literal path is
        pinned in tests on the driver corpora.
    """
    if via == "literal":
        from .similarity import centroid_assign_col

        return embeddings.select(
            F.col(id_col),
            F.col(vec_col),
            centroid_assign_col(f"`{vec_col}`", centroids).alias("list_id"),
        )
    if via != "pandas":
        raise ValueError(f"unknown assignment path {via!r} (literal | pandas)")

    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    order = sorted(range(len(centroids)), key=lambda i: centroids[i][0])
    lids = np.array([centroids[i][0] for i in order], dtype=np.int64)
    cmat = np.array([centroids[i][1] for i in order], dtype=np.float64)
    half_c2 = 0.5 * (cmat * cmat).sum(axis=1)
    # pre-negate/transpose ONCE: `x @ (-cmat.T)` inside the batch loop
    # re-copied the k×d matrix per call, and at SemDeDup-scale k the
    # copies plus the b×k score matrix (10k-row Arrow batch × 16k lists
    # = 1.3 GB f64, ×2 temporaries, ×32 threads) thrashed the allocator
    # — measured ~4× the wall-clock of the chunked form at k=16 000
    neg_ct = np.ascontiguousarray(-cmat.T)
    # cap each score matrix at ~32 MB: rows_per_chunk × k ≤ 4M doubles
    step = max(1, 4_000_000 // max(len(lids), 1))

    def _assign_fn(v):
        x = np.array(v.tolist(), dtype=np.float64)
        out = np.empty(len(x), dtype=np.int64)
        for s in range(0, len(x), step):
            # argmin d2 == argmin(-x·c + |c|²/2); np.argmin takes the
            # FIRST minimum and rows are sorted by list_id → ties low
            scores = x[s : s + step] @ neg_ct
            scores += half_c2
            out[s : s + step] = np.argmin(scores, axis=1)
        return pd.Series(lids[out])

    # real class objects, not string hints: pandas is imported function-
    # locally, so deferred-annotation strings would not resolve here
    _assign_fn.__annotations__ = {"v": pd.Series, "return": pd.Series}
    _assign = pandas_udf(_assign_fn, "int")

    return embeddings.select(
        F.col(id_col),
        F.col(vec_col),
        _assign(F.col(vec_col)).cast("int").alias("list_id"),
    )


def semantic_dedup_pairs(
    embeddings: DataFrame,
    centroids: list[tuple[int, list[float]]],
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_vecs_per_cluster: int = 100_000,
    assign_via: str = "literal",
    assigned: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup-style semantic near-dup pairs: (list_id, id_a, id_b,
    cosine) with cosine ≥ ``threshold``, RESTRICTED to pairs assigned to
    the same centroid (Abbas et al. 2023, "SemDeDup: Data-efficient
    learning at web-scale through semantic deduplication" — cluster the
    embedding space, search for duplicates only within a cluster).

    This is the scale path for :func:`embedding_near_dup_pairs` (the
    exact all-pairs verifier): the quadratic term drops from O(n²) to
    Σ|cluster|² — with k balanced clusters, n²/k — and the only corpus
    shuffle is the self-join's hash partition on ``list_id``. Recall is
    < 1 by design: a pair split across two clusters is never compared
    (SemDeDup's documented approximation; measured per-corpus in tests
    against the exact verifier, not hidden).

    Skew guard: clusters larger than ``max_vecs_per_cluster`` are
    excluded WHOLE (both pair generation and, in
    :func:`semantic_dedup_stats`, the drop counts) — same policy as the
    MinHash combined-bucket cap, and like it a recall knob, not a
    correctness one. Cluster sizes are one aggregated row per centroid,
    so the eligibility filter is a broadcast semi-join — the corpus is
    never re-shuffled to apply it.

    ``assigned``: optional pre-computed (id, vec, list_id) frame with
    ``semantic_cluster_assign(embeddings, centroids, ...)`` semantics —
    when the caller already holds the assignment (the stats report, a
    persisted index build, any pipeline that assigns once and fans out),
    pass it here and this operator skips re-deriving the O(k·d)
    argmin projection (same reuse seam as
    ``decontam.benchmark_overlap(corpus_shingles=...)``).
    """
    from ..functions.vector import dot, unit_normalized

    if assigned is None:
        assigned = semantic_cluster_assign(
            embeddings, centroids, vec_col, id_col, via=assign_via
        )
    ok = (
        assigned.groupBy("list_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") <= max_vecs_per_cluster)
        .select("list_id")
    )
    normed = unit_normalized(
        assigned.join(F.broadcast(ok), "list_id", "left_semi"), vec_col, "nv"
    )
    a = normed.select(
        "list_id", F.col(id_col).alias("id_a"), F.col("nv").alias("na")
    )
    b = normed.select(
        "list_id", F.col(id_col).alias("id_b"), F.col("nv").alias("nb")
    )
    cos = F.round(dot(F.col("na"), F.col("nb")), 6)
    return (
        a.join(b, "list_id")
        .where(F.col("id_a") < F.col("id_b"))
        .select("list_id", "id_a", "id_b", cos.alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )


def semantic_dedup_stats(
    embeddings: DataFrame,
    centroids: list[tuple[int, list[float]]],
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_vecs_per_cluster: int = 100_000,
    assign_via: str = "literal",
    assigned: DataFrame | None = None,
) -> DataFrame:
    """Per-cluster SemDeDup prune report: (list_id, n_vectors, n_dropped,
    n_kept), every centroid present even when nothing is dropped.

    ``assigned``: optional pre-computed (id, vec, list_id) assignment —
    at production quantizer sizes, compute it once via
    ``semantic_cluster_assign(..., via='pandas')`` (or reuse a persisted
    index's frame), localCheckpoint/persist it, and pass it here: the
    report's plan consumes the assignment in FOUR subtrees (sizes, the
    cap filter, both self-join sides), so an unmaterialized lineage
    re-evaluates the argmin once per subtree.

    Drop rule — keep-lowest-id: a vector is dropped iff some SMALLER-id
    vector in the same cluster is within the cosine threshold, i.e.
    ``n_dropped = |distinct id_b over semantic_dedup_pairs|``. This is
    the deterministic id-ordered variant of SemDeDup's keep-one-per-
    epsilon-ball (the paper ranks by distance-to-centroid; any fixed
    total order gives the same dedup guarantee). Deliberately NOT
    transitive-closure clustering: on a chain a~b, b~c, ¬a~c it drops
    both b and c, where the components-based :func:`canonical_corpus`
    keeps c — the simple rule is a single anti-join-able predicate (the
    SQL oracle mirrors it exactly) and is the one production pipelines
    run per-cluster, where chains are short by construction.

    Scale shape: pairs are cluster-local (see
    :func:`semantic_dedup_pairs`); the drop count is a groupBy over the
    (sparse) pair set; the final join is centroid-count-sized on both
    sides — broadcastable at any corpus size.
    """
    if assigned is None:
        assigned = semantic_cluster_assign(
            embeddings, centroids, vec_col, id_col, via=assign_via
        )
    sizes = assigned.groupBy("list_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors")
    )
    # one assignment DEFINITION shared by sizes and the pair path; note
    # sharing the frame dedupes the lineage, not the evaluation — each
    # consumer subtree still evaluates it unless the caller materialized
    # `assigned` (see docstring)
    pairs = semantic_dedup_pairs(
        embeddings,
        centroids,
        threshold,
        vec_col,
        id_col,
        max_vecs_per_cluster,
        assigned=assigned,
    )
    dropped = (
        pairs.select("list_id", "id_b")
        .distinct()
        .groupBy("list_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_dropped"))
    )
    return sizes.join(dropped, "list_id", "left").select(
        "list_id",
        "n_vectors",
        F.coalesce("n_dropped", F.lit(0)).cast("long").alias("n_dropped"),
        (F.col("n_vectors") - F.coalesce("n_dropped", F.lit(0)))
        .cast("long")
        .alias("n_kept"),
    )


# ---------------------------------------------------------------------------
# incremental (delta) dedup against a stored index
# ---------------------------------------------------------------------------


class MinhashIndex(NamedTuple):
    """The index state of a deduplicated corpus, sufficient to check
    a NEW crawl batch for near-duplicates without rescanning the corpus:

      * ``buckets``  — (doc_id, band_id, band_hash): the LSH band-bucket
        membership of every indexed doc. The survivor store
        (streaming/sinks.neardup_upsert_batch) keeps it bucketed by
        ``band_hash``, so the delta lookup joins it with no index-side
        Exchange.
      * ``shingles`` — (doc_id, shingles): the distinct-shingle sets the
        Jaccard verify needs. Stored bucketed by ``doc_id`` for the
        same reason.

    :func:`load_neardup_index` reads a store's live index back.

    Both tables are keys-and-hashes only — the corpus *text* is never
    part of the index. At 100 TB of corpus the index is tens of GB per
    billion docs (4 band rows + 1 shingle row per doc), and the cost of
    a delta check scales with the delta batch, not the corpus.
    """

    buckets: DataFrame
    shingles: DataFrame


def build_minhash_index(
    docs: DataFrame,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    n: int = 3,
    k: int = 12,
    bands: int = 4,
    hash_fn: str = "md5",
) -> MinhashIndex:
    """Compute the index state for a corpus (in-memory DataFrames; the
    survivor store writes the same tables).

    The shingle projection is localCheckpoint-ed: both index tables
    derive from it AND both are consumed by every delta check, so an
    unmaterialized lineage would re-run the shingle+signature fold once
    per consumer (a stored index has no such cost — parquet is its
    barrier)."""
    sh = _shingle_sets(docs, tokens_col, id_col, n).localCheckpoint()
    return MinhashIndex(
        buckets=_band_buckets_from_shingles(sh, k, bands, hash_fn),
        shingles=sh,
    )


def _delta_bucket_pairs(
    delta_keys: DataFrame, index_keys: DataFrame, max_docs_per_bucket: int
) -> DataFrame:
    """Combined-bucket candidate generation shared by the minhash and
    simhash delta paths: both key tables are (doc_id, band_id,
    band_hash); output is distinct (doc_a < doc_b) pairs co-bucketed in
    ≥1 band with AT LEAST ONE delta-side doc — ``_bucket_pairs`` with
    the delta flag carried through (sort_array on (doc_id, is_delta)
    structs orders by doc_id, so pair orientation matches the batch
    path), over the union of the delta keys and the index keys of
    TOUCHED buckets only (broadcast semi join — the index key table
    never shuffles unfiltered). The ``max_docs_per_bucket`` cap counts
    the COMBINED membership, exactly as the batch run would."""
    touched = delta_keys.select("band_id", "band_hash").distinct()
    idx_members = index_keys.join(
        F.broadcast(touched), ["band_id", "band_hash"], "left_semi"
    )
    members = delta_keys.select(
        "band_id", "band_hash", "doc_id", F.lit(True).alias("is_delta")
    ).unionByName(
        idx_members.select(
            "band_id", "band_hash", "doc_id", F.lit(False).alias("is_delta")
        )
    )
    buckets = (
        members.groupBy("band_id", "band_hash")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("doc_id", "is_delta"))
            ).alias("ms")
        )
        .where((F.size("ms") >= 2) & (F.size("ms") <= max_docs_per_bucket))
    )
    ms = F.col("ms")
    pair_arr = F.flatten(
        F.transform(
            ms,
            lambda x, i: F.filter(
                F.transform(
                    F.slice(ms, i + 2, F.size(ms)),
                    lambda y: F.struct(
                        x["doc_id"].alias("doc_a"),
                        y["doc_id"].alias("doc_b"),
                        (x["is_delta"] | y["is_delta"]).alias("touches_delta"),
                    ),
                ),
                lambda p: p["touches_delta"],
            ),
        )
    )
    return (
        buckets.select(F.explode(pair_arr).alias("p"))
        .select(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .distinct()
    )


def minhash_delta_pairs(
    delta_docs: DataFrame,
    index: MinhashIndex,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    n: int = 3,
    k: int = 12,
    bands: int = 4,
    threshold: float = 0.7,
    max_docs_per_bucket: int = 1000,
    hash_fn: str = "md5",
    materialize: bool = True,
    delta_shingles: DataFrame | None = None,
    delta_bands: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs of a NEW batch against (and within) an existing
    indexed corpus — WITHOUT rescanning the corpus.

    ``delta_shingles``: optional pre-computed (doc_id, shingles) frame
    with ``_shingle_sets(delta_docs, ...)`` semantics — the ingest sink
    already materializes it for the index append, so passing it here
    skips re-shingling the batch (assumed already materialized; the
    ``materialize`` flag then only governs the candidate checkpoint).
    ``delta_bands``: likewise for the (doc_id, band_id, band_hash) band
    keys — the k-way salted-hash signature fold is the expensive half
    of the delta's preprocessing, and the sink evaluates it anyway for
    the index append; pass the MATERIALIZED frame to not pay it twice.

    Returns (doc_a, doc_b, jaccard) for every pair with ≥1 delta-side
    doc: delta↔index pairs and delta↔delta pairs, never index↔index
    (those were emitted when the index corpus was deduplicated). Delta
    and index doc-id spaces must be disjoint.

    **Equivalence contract** (pinned in tests/test_dedup_delta.py): the
    output is EXACTLY ``minhash_dedup_pairs(index_corpus ∪ delta)``
    restricted to pairs touching the delta — including the
    ``max_docs_per_bucket`` skew guard, which here counts the COMBINED
    bucket membership (index + delta), not the delta alone. The
    incremental path is not an approximation of the batch path.

    Plan shape at scale: the delta's band keys (4 small rows per delta
    doc) are broadcast as a semi-join filter over the index buckets
    table, and the candidate doc-ids likewise over the shingle table —
    the index is scanned (keys-and-hashes tables, no corpus text) but
    NO index row ever crosses an Exchange: shuffle volume is
    O(delta + collisions), not O(corpus). Asserted on the physical plan
    in tests/test_dedup_delta.py against a stored index read through
    :func:`load_neardup_index`.

    ``materialize=False`` skips the two localCheckpoints (delta
    shingles, candidates) so the WHOLE lineage stays in one inspectable
    plan — the plan test's hook; production keeps the default.
    """
    if delta_shingles is not None:
        delta_sh = delta_shingles
    else:
        delta_sh = _shingle_sets(delta_docs, tokens_col, id_col, n)
        if materialize:
            delta_sh = delta_sh.localCheckpoint()
    if delta_bands is None:
        delta_bands = _band_buckets_from_shingles(delta_sh, k, bands, hash_fn)
    cands = _delta_bucket_pairs(delta_bands, index.buckets, max_docs_per_bucket)
    if materialize:
        # candidates feed the verify join TWICE (both sides) plus the
        # needed-ids filter below — materialize once
        cands = cands.localCheckpoint()
    # verify against the union shingle table, PREFILTERED to candidate
    # docs: without the filter the cands ⋈ shingles join would shuffle
    # the ENTIRE index shingle table (O(corpus)); with it, the index
    # scan streams under a broadcast semi join (no index-side Exchange —
    # asserted on the plan in tests/test_dedup_delta.py) and only
    # O(candidates) shingle rows enter the verify
    needed = cands.select(F.explode(F.array("doc_a", "doc_b")).alias("doc_id")).distinct()
    all_sh = delta_sh.unionByName(index.shingles).join(
        F.broadcast(needed), "doc_id", "left_semi"
    )
    a = all_sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    b = all_sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    joined = cands.join(a, "doc_a").join(b, "doc_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = (F.size("sh_a") + F.size("sh_b")).cast("double") - inter
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return joined.select("doc_a", "doc_b", F.round(jac, 8).alias("jaccard")).where(
        F.col("jaccard") >= threshold
    )


class SimhashIndex(NamedTuple):
    """Simhash index state of a deduplicated corpus: ``keys`` —
    (doc_id, band_id, band_hash) combination-blocking keys (stored
    bucketed by band_hash); ``fingerprints`` — (doc_id, simhash)
    64-bit fingerprint strings (stored bucketed by doc_id). The
    blocking parameters (max_hamming, bands, combo_size, hash_fn) are
    part of the index's contract — the delta check must be called with
    the SAME values the index was built with."""

    keys: DataFrame
    fingerprints: DataFrame


def _simhash_blocking_params(
    max_hamming: int, bands: int | None, combo_size: int | None
) -> tuple[int, int]:
    """Default + validate the combination-blocking configuration —
    shared by ``simhash_near_pairs`` and the index/delta path so both
    reject recall-losing configs identically."""
    if bands is None:
        bands = max_hamming + 3
    if combo_size is None:
        combo_size = min(3, bands - max_hamming)
    if bands > 64:
        raise ValueError(
            f"bands={bands} > 64 bits: segments would be empty; this operator "
            "is for tight radii (max_hamming ≲ 16) — use embedding similarity "
            "for coarse matching"
        )
    if combo_size < 1 or combo_size > bands - max_hamming:
        raise ValueError(
            f"combo_size={combo_size} outside [1, bands - max_hamming = "
            f"{bands - max_hamming}]: a pair at Hamming distance {max_hamming} "
            f"only agrees on {bands}-{max_hamming} segments (pigeonhole), so "
            "larger combos (or bands <= max_hamming) silently lose recall"
        )
    return bands, combo_size


def build_simhash_index(
    docs: DataFrame,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    max_hamming: int = 8,
    bands: int | None = None,
    combo_size: int | None = None,
    hash_fn: str = "md5",
) -> SimhashIndex:
    """Compute the simhash index state for a corpus (in-memory; the
    survivor store writes the same tables)."""
    bands, combo_size = _simhash_blocking_params(max_hamming, bands, combo_size)
    # checkpoint: keys and fingerprints are separate consumers of the
    # same (expensive) 64-bit fold — see build_minhash_index
    fp = simhash_fingerprints(docs, tokens_col, id_col, hash_fn).localCheckpoint()
    return SimhashIndex(
        keys=_simhash_band_buckets(fp, bands, combo_size), fingerprints=fp
    )


def simhash_delta_pairs(
    delta_docs: DataFrame,
    index: SimhashIndex,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    max_hamming: int = 8,
    bands: int | None = None,
    combo_size: int | None = None,
    max_docs_per_bucket: int = 1000,
    hash_fn: str = "md5",
    materialize: bool = True,
    delta_fingerprints: DataFrame | None = None,
    delta_keys: DataFrame | None = None,
) -> DataFrame:
    """SimHash twin of :func:`minhash_delta_pairs`: Hamming-radius
    near-dup pairs of a NEW batch against (and within) an indexed
    corpus, without recomputing a single corpus fingerprint.

    Same equivalence contract (output ≡ batch ``simhash_near_pairs``
    over index∪delta restricted to delta-touching pairs, combined-bucket
    cap included — pinned in tests/test_dedup_delta.py) and the same
    plan shape: the delta's blocking keys broadcast-semi-filter the
    index key table, the candidate ids the fingerprint table; the index
    is never shuffled unfiltered. Blocking parameters MUST match the
    index build (see :class:`SimhashIndex`).
    """
    bands, combo_size = _simhash_blocking_params(max_hamming, bands, combo_size)
    if delta_fingerprints is not None:
        # pre-computed (doc_id, simhash) — the sink's reuse seam, same
        # contract as minhash_delta_pairs' delta_shingles
        delta_fp = delta_fingerprints
    else:
        delta_fp = simhash_fingerprints(delta_docs, tokens_col, id_col, hash_fn)
        if materialize:
            delta_fp = delta_fp.localCheckpoint()
    if delta_keys is None:
        delta_keys = _simhash_band_buckets(delta_fp, bands, combo_size)
    cands = _delta_bucket_pairs(delta_keys, index.keys, max_docs_per_bucket)
    if materialize:
        cands = cands.localCheckpoint()
    needed = cands.select(F.explode(F.array("doc_a", "doc_b")).alias("doc_id")).distinct()
    all_fp = delta_fp.unionByName(index.fingerprints).join(
        F.broadcast(needed), "doc_id", "left_semi"
    )
    hi = F.conv(F.substring("simhash", 1, 32), 2, 10).cast("long")
    lo = F.conv(F.substring("simhash", 33, 32), 2, 10).cast("long")
    a = all_fp.select(F.col("doc_id").alias("doc_a"), hi.alias("hi_a"), lo.alias("lo_a"))
    b = all_fp.select(F.col("doc_id").alias("doc_b"), hi.alias("hi_b"), lo.alias("lo_b"))
    joined = cands.join(a, "doc_a").join(b, "doc_b")
    ham = F.bit_count(F.col("hi_a").bitwiseXOR(F.col("hi_b"))) + F.bit_count(
        F.col("lo_a").bitwiseXOR(F.col("lo_b"))
    )
    return joined.select("doc_a", "doc_b", ham.alias("hamming")).where(
        F.col("hamming") <= max_hamming
    )


class SemanticIndex(NamedTuple):
    """Semantic-dedup index state of an embedding corpus: one table,
    ``assigned`` — (id, list_id, nv): the nearest-centroid cluster label
    plus the UNIT-NORMALIZED vector (so a delta check never re-normalizes
    the corpus). The survivor store keeps it bucketed by ``list_id``:
    the delta check's corpus-side join key is the cluster label, so a
    bucketed store crosses zero index-side Exchange. The centroid set is part of the index's identity — a delta
    check MUST use the same centroids the index was built with, or
    cluster labels (and therefore candidate generation) silently drift.
    """

    assigned: DataFrame


def build_semantic_index(
    embeddings: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    assign_via: str = "literal",
) -> SemanticIndex:
    """Compute the semantic index state (in-memory; the survivor store
    writes the same table). localCheckpoint-ed: a delta check consumes
    the table for members AND cluster sizes."""
    from ..functions.vector import unit_normalized

    assigned = unit_normalized(
        semantic_cluster_assign(embeddings, centroids, vec_col, id_col, via=assign_via),
        vec_col,
        "nv",
    ).select(id_col, "list_id", "nv")
    return SemanticIndex(assigned=assigned.localCheckpoint())


def semantic_delta_pairs(
    delta_vecs: DataFrame,
    index: SemanticIndex,
    centroids: list[tuple[int, list[float]]],
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_vecs_per_cluster: int = 100_000,
    materialize: bool = True,
    assign_via: str = "literal",
    delta_assigned: DataFrame | None = None,
) -> DataFrame:
    """Semantic near-dup pairs of a NEW batch against (and within) an
    indexed embedding corpus — without re-assigning or re-normalizing
    the corpus. Returns (list_id, id_a, id_b, cosine) for every
    co-clustered pair with ≥1 delta-side vector: delta↔index and
    delta↔delta, never index↔index. Delta and index id spaces must be
    disjoint.

    **Equivalence contract** (pinned in tests/test_dedup_delta.py, same
    shape as :func:`minhash_delta_pairs`): the output is EXACTLY
    ``semantic_dedup_pairs(index_corpus ∪ delta)`` restricted to pairs
    touching the delta — including ``max_vecs_per_cluster``, which here
    counts the COMBINED cluster membership (index + delta), exactly as
    the batch run would.

    Plan shape at scale: the delta's cluster labels (≤ |delta| distinct
    values) broadcast-semi-filter the index, so only members of TOUCHED
    clusters are read — and those members must be read, because each one
    is cosine-compared against the co-clustered delta vectors (the
    irreducible SemDeDup delta cost). With the index stored bucketed
    by list_id (the survivor store's layout), the per-cluster joins consume it pre-partitioned on the
    join key: no index-side Exchange (asserted on the plan). Shuffle
    volume is O(delta); index rows stream from the bucketed scan.
    """
    from ..functions.vector import dot, unit_normalized

    if delta_assigned is not None:
        # pre-computed (id_col, list_id, nv) with build_semantic_index
        # semantics — the sink's reuse seam: the batch's assignment +
        # normalization is already materialized for the index append,
        # so the delta check must not pay the O(|batch|·k·d) argmin
        # twice per micro-batch
        d = delta_assigned.select(F.col(id_col).alias("vid"), "list_id", "nv")
    else:
        d = unit_normalized(
            semantic_cluster_assign(
                delta_vecs, centroids, vec_col, id_col, via=assign_via
            ),
            vec_col,
            "nv",
        ).select(F.col(id_col).alias("vid"), "list_id", "nv")
        if materialize:
            d = d.localCheckpoint()
    idx = index.assigned.select(F.col(id_col).alias("vid"), "list_id", "nv")
    touched = d.select("list_id").distinct()
    idx_t = idx.join(F.broadcast(touched), "list_id", "left_semi")

    # combined-size skew cap: per-cluster counts computed on each side
    # SEPARATELY (the index side aggregates on its own bucket key — no
    # Exchange on a persisted index), then added; eligible clusters are
    # ≤ |touched| rows — always broadcastable
    idx_n = idx_t.groupBy("list_id").agg(F.count(F.lit(1)).alias("n_idx"))
    d_n = d.groupBy("list_id").agg(F.count(F.lit(1)).alias("n_delta"))
    ok = (
        d_n.join(idx_n, "list_id", "left")
        .where(
            (F.col("n_delta") + F.coalesce("n_idx", F.lit(0)))
            <= max_vecs_per_cluster
        )
        .select("list_id")
    )
    d_ok = d.join(F.broadcast(ok), "list_id", "left_semi")
    i_ok = idx_t.join(F.broadcast(ok), "list_id", "left_semi")

    cos = F.round(dot(F.col("na"), F.col("nb")), 6)
    da = d_ok.select("list_id", F.col("vid").alias("id_a"), F.col("nv").alias("na"))
    db = d_ok.select("list_id", F.col("vid").alias("id_b"), F.col("nv").alias("nb"))
    dd = da.join(db, "list_id").where(F.col("id_a") < F.col("id_b"))
    iv = i_ok.select("list_id", F.col("vid").alias("iid"), F.col("nv").alias("nb"))
    di = (
        d_ok.select("list_id", F.col("vid").alias("did"), F.col("nv").alias("na"))
        .join(iv, "list_id")
        .select(
            "list_id",
            F.least("did", "iid").alias("id_a"),
            F.greatest("did", "iid").alias("id_b"),
            F.col("na"),
            F.col("nb"),
        )
    )
    both = dd.select("list_id", "id_a", "id_b", cos.alias("cosine")).unionByName(
        di.select("list_id", "id_a", "id_b", cos.alias("cosine"))
    )
    return both.where(F.col("cosine") >= threshold)


# ---------------------------------------------------------------------------
# The near-dup survivor store: one writer (_append), one reader
# ---------------------------------------------------------------------------


def _store_rows(index, id_col: str) -> tuple[DataFrame, DataFrame]:
    """An index's (keys, features) rows in the survivor store's layout
    (operators/store.NEARDUP_INDEX: every table carries ``doc_id``). The
    semantic keys are the cluster labels (band_id 0, band_hash =
    list_id)."""
    if not isinstance(index, SemanticIndex):
        return tuple(index)
    feats = index.assigned.select(F.col(id_col).alias("doc_id"), "list_id", "nv")
    keys = feats.select(
        "doc_id", F.lit(0).alias("band_id"), F.col("list_id").cast("long").alias("band_hash")
    )
    return keys, feats


def _as_index(
    hash_family: str, keys: DataFrame, feats: DataFrame, id_col: str
) -> MinhashIndex | SimhashIndex | SemanticIndex:
    """The family's index over store-layout (keys, features) rows, in the
    column names its ``*_delta_pairs`` reads — the inverse of
    :func:`_store_rows`."""
    if hash_family == "minhash":
        return MinhashIndex(buckets=keys, shingles=feats)
    if hash_family == "simhash":
        return SimhashIndex(keys=keys, fingerprints=feats)
    return SemanticIndex(
        assigned=feats.select(F.col("doc_id").alias(id_col), "list_id", "nv")
    )


def _live_rows(spark, table: str, tombs: DataFrame | None) -> DataFrame:
    """``table``'s rows minus the tombstoned docs' (one broadcast
    anti-join, absent while the list is empty)."""
    rows = spark.table(table)
    if tombs is None:
        return rows
    return rows.join(F.broadcast(tombs.select("doc_id")), "doc_id", "left_anti")


def load_neardup_index(
    spark, table_prefix: str, hash_family: str, id_col: str = "doc_id"
) -> MinhashIndex | SimhashIndex | SemanticIndex:
    """The live index of a near-dup survivor store
    (streaming/sinks.neardup_upsert_batch) — a :class:`MinhashIndex`,
    :class:`SimhashIndex` or :class:`SemanticIndex` by ``hash_family``,
    ready for that family's ``*_delta_pairs``. Rows of tombstoned docs
    (:func:`remove_from_neardup_store`) are left out, so a taken-down
    document matches nothing — the same view the sink's own delta check
    reads. ``id_col`` is the docs ledger's id column, and the
    :class:`SemanticIndex` id column.

    The index tables are refreshed first — the family-wide read-entry
    idiom (search.load_posting_index): a streaming sink writes through a
    CLONED SparkSession whose cache invalidation never reaches this
    session's cached file listing."""
    spec = store.neardup(table_prefix, id_col, hash_family)
    tables = [t for t, _, _ in spec.tables[:2]]
    for t in tables:
        if not spark.catalog.tableExists(t):
            raise ValueError(
                f"{t} not found: no {hash_family} near-dup store at this "
                "prefix — ingest one with neardup_upsert_batch first"
            )
        spark.catalog.refreshTable(t)
    tombs = store.live(spark, spec)
    keys, feats = (_live_rows(spark, t, tombs) for t in tables)
    return _as_index(hash_family, keys, feats, id_col)


def _append(
    batch: DataFrame,
    table_prefix: str,
    hash_family: str,
    tokens_col: str,
    id_col: str,
    path: str,
    n_buckets: int,
    *,
    n: int,
    k: int,
    bands: int | None,
    threshold: float,
    max_docs_per_bucket: int,
    hash_fn: str,
    max_hamming: int,
    combo_size: int | None,
    centroids,
    assign_via: str,
) -> None:
    """Admit ``batch`` into the survivor store, drop every admitted doc
    with a near-duplicate among the live stored docs or a smaller-id
    batch mate, and commit the survivors with their index rows, the docs
    ledger last. Semantics, replay rules and parameters:
    streaming/sinks.neardup_upsert_batch. ``path``/``n_buckets`` place
    the tables the store does not have yet."""
    from .graph import connected_components

    if hash_family == "semantic" and centroids is None:
        raise ValueError("hash_family='semantic' requires centroids")
    spark = batch.sparkSession
    spec = store.neardup(table_prefix, id_col, hash_family)
    keys_tbl, feats_tbl = (t for t, _, _ in spec.tables[:2])
    fresh, tombs = store.admit(spark, spec, batch)
    if fresh.limit(1).count() == 0:
        return
    fresh_ids = F.broadcast(fresh.select(F.col(id_col).alias("doc_id")))

    if hash_family == "minhash":
        bands = 4 if bands is None else bands
        built = build_minhash_index(fresh, tokens_col, id_col, n, k, bands, hash_fn)
    elif hash_family == "simhash":
        built = build_simhash_index(
            fresh, tokens_col, id_col, max_hamming, bands, combo_size, hash_fn
        )
    else:
        built = build_semantic_index(fresh, centroids, tokens_col, id_col, assign_via)
    delta_keys, delta_feats = _store_rows(built, id_col)
    # checkpointed: consumed by BOTH the index append and the delta
    # check — sharing only the lineage would re-run the band/signature
    # fold once per consumer (tiny table: ~bands rows per doc, ids+hashes)
    delta_keys = delta_keys.localCheckpoint()

    def view(tbl: str, delta: DataFrame) -> tuple[DataFrame, DataFrame]:
        """(stale rows of this batch's ids, the rest) of the loader's view
        of ``tbl``; an absent table is an EMPTY index with the delta's
        schema (key types depend on hash_fn)."""
        if not spark.catalog.tableExists(tbl):
            return delta.limit(0), delta.limit(0)
        rows = _live_rows(spark, tbl, tombs)
        return (
            rows.join(fresh_ids, "doc_id", "left_semi"),
            rows.join(fresh_ids, "doc_id", "left_anti"),
        )

    stale_keys, keys_view = view(keys_tbl, delta_keys)
    stale_feats, feats_view = view(feats_tbl, delta_feats)
    index = _as_index(hash_family, keys_view, feats_view, id_col)
    # the batch's own index, already materialized for the append — the
    # delta check must not pay the shingle/fingerprint/argmin pass twice
    delta = _as_index(hash_family, delta_keys, delta_feats, id_col)
    if hash_family == "minhash":
        pairs = minhash_delta_pairs(
            fresh, index, tokens_col, id_col, n, k, bands, threshold,
            max_docs_per_bucket, hash_fn,
            delta_shingles=delta.shingles, delta_bands=delta.buckets,
        )
    elif hash_family == "simhash":
        pairs = simhash_delta_pairs(
            fresh, index, tokens_col, id_col, max_hamming, bands, combo_size,
            max_docs_per_bucket, hash_fn,
            delta_fingerprints=delta.fingerprints, delta_keys=delta.keys,
        )
    else:
        pairs = semantic_delta_pairs(
            fresh, index, centroids, threshold, tokens_col, id_col,
            max_docs_per_bucket, assign_via=assign_via, delta_assigned=delta.assigned,
        ).select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"), "cosine")

    asg = connected_components(pairs, src="doc_a", dst="doc_b").join(
        fresh.select(F.col(id_col).alias("node"), F.lit(1).alias("is_delta")),
        "node",
        "left",
    )
    comp_stats = asg.groupBy("component").agg(
        F.max(F.when(F.col("is_delta").isNull(), 1).otherwise(0)).alias("has_index"),
        F.min(F.when(F.col("is_delta") == 1, F.col("node"))).alias("min_delta"),
    )
    drops = (
        asg.where(F.col("is_delta") == 1)
        .join(comp_stats, "component")
        .where((F.col("has_index") == 1) | (F.col("node") != F.col("min_delta")))
        .select(F.col("node").alias(id_col))
    )
    # checkpoint the DROPS side, not the survivors: drops (this batch's
    # duplicate ids, ≤ batch-sized — the same bound as the fresh_ids
    # broadcasts above) pins the components chain's one evaluation,
    # and every survivor consumer then derives lazily from the two
    # pinned frames (fresh ckpt minus drops ckpt) — a map-side
    # broadcast anti-join per consumer instead of a second corpus-wide
    # checkpoint materialization. The index filters flip from
    # semi-join-against-survivors (corpus-sized build side at scale)
    # to anti-join-against-drops: delta_keys/delta_feats rows belong to
    # fresh docs by construction, and survivors = fresh − drops, so
    # semi(survivors) ≡ anti(drops) row-for-row.
    drops = drops.localCheckpoint()
    survivors = fresh.join(F.broadcast(drops), id_col, "left_anti")
    drop_ids = F.broadcast(drops.select(F.col(id_col).alias("doc_id")))
    new_keys = delta_keys.join(drop_ids, "doc_id", "left_anti")
    new_feats = delta_feats.join(drop_ids, "doc_id", "left_anti")
    # idempotent append: drop rows a crashed attempt already stored
    # ((doc_id, band_id) identifies a key row — band_hash is a function
    # of it; doc_id identifies a feature row)
    new_keys = new_keys.join(
        F.broadcast(stale_keys.select("doc_id", "band_id")),
        ["doc_id", "band_id"],
        "left_anti",
    )
    new_feats = new_feats.join(
        F.broadcast(stale_feats.select("doc_id")), "doc_id", "left_anti"
    )
    store.commit(
        spark, spec, path, n_buckets,
        {keys_tbl: new_keys, feats_tbl: new_feats, spec.ledger: survivors},
    )


# ---------------------------------------------------------------------------
# Survivor-store takedowns (right-to-be-forgotten maintenance)
# ---------------------------------------------------------------------------

def neardup_store_tombstones(
    spark, table_prefix: str, id_col: str = "doc_id"
):
    """The store's LIVE tombstone list as a (doc_id) DataFrame, or
    ``None`` when there are no tombstones (operators/store.live)."""
    return store.live(spark, store.neardup(table_prefix, id_col))


def remove_from_neardup_store(
    spark, doc_ids, table_prefix: str, id_col: str = "doc_id"
) -> int:
    """Logically DELETE documents from a persisted dedup-on-ingest
    survivor store (streaming/sinks.neardup_upsert_batch's bucketed
    layout) through the shared tombstone protocol (operators/store.py).
    The ids land in a ``{prefix}_tombstones`` table whose ``doc_id``
    column has the docs table's ``id_col`` type; every subsequent delta
    check excludes tombstoned docs from candidate generation AND from
    the Jaccard/Hamming/cosine verify (the sink anti-joins its index
    views), so a deleted document stops suppressing near-duplicates of
    its content the moment the delete commits — future re-crawls of
    that content are admitted as fresh survivors. The store state after
    :func:`vacuum_neardup_store` is BIT-IDENTICAL per table to the
    original tables with the tombstoned docs' rows filtered out (pinned
    in tests/test_streaming.py).

    Replay-safe and idempotent; ids absent from the docs ledger are
    ignored. Returns the number of NEWLY tombstoned ids. A tombstoned
    id stays deleted until a vacuum: the sink's docs-guard anti-join
    still sees it in the ledger, so re-ingesting the same id requires
    vacuuming first.

    ``doc_ids``: a one-column DataFrame or any iterable of ids."""
    return store.remove(spark, store.neardup(table_prefix, id_col), doc_ids)


def vacuum_neardup_store(
    spark, table_prefix: str, hash_family: str, id_col: str = "doc_id"
) -> dict:
    """Physically drop tombstoned docs' rows from the docs table and
    the family's keys/features tables that exist (their shingles, band
    keys, fingerprints or normalized vectors leave disk, completing the
    takedown), then clear the tombstones table (operators/store.vacuum).
    Delta-check results are identical before and after (the sink's
    anti-join was already excluding those rows — pinned in tests).
    Returns per-table rewrite reports (keyed by table suffix) plus the
    number of tombstones folded."""
    return store.vacuum(spark, store.neardup(table_prefix, id_col, hash_family))


def exact_dedup_store_tombstones(
    spark, table: str, key_cols: tuple = ("event_id",)
):
    """The exact-dedup store's LIVE tombstone list (key-cols frame), or
    ``None`` when empty (operators/store.live)."""
    return store.live(spark, store.exact(table, key_cols))


def load_exact_dedup_store(
    spark, table: str, key_cols: tuple = ("event_id",)
) -> DataFrame:
    """The store's LIVE rows: the committed first-occurrence table
    minus tombstoned keys (one broadcast anti-join that disappears
    after a vacuum). This is the frame every reader of an
    ``dedup_store_upsert_batch`` store should consume once takedowns are
    in play."""
    spark.catalog.refreshTable(table)
    live = spark.table(table)
    tombs = exact_dedup_store_tombstones(spark, table, key_cols)
    if tombs is not None:
        live = live.join(
            F.broadcast(tombs.select(*key_cols)), list(key_cols), "left_anti"
        )
    return live


def remove_from_exact_dedup_store(
    spark, keys, table: str, key_cols: tuple = ("event_id",)
) -> int:
    """Logically DELETE keys from a persisted exact-dedup store
    (streaming/sinks.dedup_store_upsert_batch's bucketed layout) through
    the shared tombstone protocol (operators/store.py). Tombstoned rows
    leave every :func:`load_exact_dedup_store` read immediately;
    :func:`vacuum_exact_dedup_store` folds them out physically. A
    tombstoned key stays dead until a vacuum — the sink's append guard
    still sees it in the store table, so an identical re-crawl is
    admitted only after the vacuum (admitting it earlier would let the
    vacuum's key-level fold delete the re-admitted row too).

    Replay-safe and idempotent: already-tombstoned and never-stored
    keys are ignored. Returns the number of NEWLY tombstoned keys.

    ``keys``: a DataFrame carrying ``key_cols``, or (single-key
    stores) any iterable of key values."""
    return store.remove(spark, store.exact(table, key_cols), keys)


def vacuum_exact_dedup_store(
    spark, table: str, key_cols: tuple = ("event_id",)
) -> dict:
    """Physically drop tombstoned keys' rows from the store table, then
    clear the tombstone table (operators/store.vacuum; report key
    ``store``). After the vacuum the store genuinely forgets the keys:
    the sink's append guard no longer sees them, so identical future
    content is admitted as a first occurrence again."""
    return store.vacuum(spark, store.exact(table, key_cols))
