"""Deduplication operators over the ``documents`` table — the standard
web-scale training-corpus cleaning ladder, each as a distributed DataFrame
pipeline:

1. ``exact_dedup``        hash-groupBy on normalized text (cheapest)
2. ``ngram_jaccard_pairs``exact k-gram Jaccard via shingle self-join
                          (SQL-expressible → DuckDB-oracle-checked)
3. ``minhash_lsh_pairs``  MinHash signatures + banded LSH candidate join
                          (the sub-quadratic scale path)
4. ``simhash_pairs``      64-bit SimHash + chunk-banded Hamming candidates
5. embedding cosine near-dup lives in operators.similarity

Scale notes: every pipeline is shuffle-bounded by (a) an explode of
documents into shingles/bands — linear in corpus size, and (b) a self-join
on shingle/band keys. Hot shingles (boilerplate) are the skew hazard: both
pair-generating joins cap per-key fan-out via a frequency filter
(``max_shingle_freq``) exactly like stop-word removal in MinHashLSH
practice — a shingle shared by thousands of docs contributes no
discriminative signal but O(f²) join output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from pagerank_optimization_spark.functions.text import (
    POLY_P,
    fingerprint_expr,
    poly_hash_expr,
    tokens_expr,
)

# MinHash permutation family over the portable polynomial hash:
# h_i(x) = (A_i·poly(x) + B_i) mod P with A_i = 2i+1 (odd, coprime to 2^k),
# B_i = i·1e9+7 mod P. A_i ≤ 127 and poly(x) < 2^50 keep every product
# < 2^57 — ANSI-safe in both Spark and DuckDB (the oracle twin reproduces
# this family term for term, plans.oracle_sql_docs.docs_minhash_pairs_sql).
MINHASH_A = lambda i: 2 * i + 1  # noqa: E731
MINHASH_B = lambda i: (i * 1_000_000_007) % POLY_P  # noqa: E731
# SimHash bit scramble: 3 rounds of (h·m + a) mod P with small multipliers
# (each m ≤ 2^13 keeps every product < 2^63 — ANSI-safe). One round leaves
# bit correlations that collapse simhash discrimination (measured: 3260
# hamming≤3 pairs on the sf0.01 corpus vs 187 with a cryptographic 48-bit
# hash); three rounds land at 49 — the same regime.
SIMHASH_ROUNDS = ((8191, 131_071), (4099, 92_821), (5407, 40_503))


def exact_dedup(documents: DataFrame, *, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """→ (doc_id, canonical_id, n_copies): every doc mapped to the min-id
    representative of its normalized-text equality class. Survivors are the
    rows with doc_id == canonical_id."""
    fp = documents.select(F.col(id_col), fingerprint_expr(F.col(text_col)).alias("fp"))
    w = W.partitionBy("fp")
    return (
        fp.withColumn("canonical_id", F.min(id_col).over(w))
        .withColumn("n_copies", F.count("*").over(w))
        .select(id_col, "canonical_id", "n_copies")
    )


def shingles(
    documents: DataFrame, *, k: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """→ (doc_id, shingle): distinct word k-grams per document, built with a
    lateral sequence/slice explode — no Python, fully codegen'd.

    Precondition: ``id_col`` is unique per document. The k-grams are
    deduplicated within each input row, not across rows, so two rows
    sharing an id both keep their (id, shingle) rows and the Jaccard
    counts built on this table (|A∩B|, |A|) are inflated."""
    toks = tokens_expr(F.col(text_col))
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - k, F.lit(0)) - 1 + F.lit(1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)),
    )
    # r6: per-document dedup happens INSIDE the gram array (array_distinct
    # after the full-length filter) before the explode — same rows out as
    # the old explode + global .distinct(), but the corpus-sized
    # (doc, shingle) exchange that distinct needed is gone entirely; the
    # first shuffle the shingle table pays is whatever its consumer keys on
    # (guide §2.4).
    grams = F.array_distinct(
        F.filter(grams, lambda g: F.size(F.split(g, " ")) == k)
    )
    return documents.select(F.col(id_col), F.explode(grams).alias("shingle"))


def ngram_jaccard_pairs(
    documents: DataFrame,
    *,
    k: int = 3,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_shingle_freq: int = 1000,
    counters: dict | None = None,
) -> DataFrame:
    """Exact k-gram Jaccard near-duplicate pairs: → (a, b, jaccard) with
    a < b and jaccard ≥ threshold. Shingle self-join + |A∩B| count, sizes
    joined back for |A∪B| = |A|+|B|−|A∩B|.

    ``counters``: pass a dict to have the skew-cap fire counts recorded
    into it (shingles_capped = distinct shingles dropped by
    max_shingle_freq, shingle_rows_capped = doc-shingle rows those carried)
    — costs one extra aggregation job; bench-only, leave None in
    pipelines."""
    sh = shingles(documents, k=k, id_col=id_col, text_col=text_col)
    # skew guard: drop boilerplate shingles with pathological fan-out.
    # r6: the document frequency is a COUNT window over the shingle
    # partitioning instead of a separate aggregate + semi-join — the one
    # exchange it introduces is the SAME hash(shingle) exchange the
    # self-join below needs, so both join sides read it back with no
    # further shuffle (guide §2.4 "two operations keyed the same way share
    # one exchange").
    wsh = W.partitionBy("shingle")
    shc = sh.withColumn("df", F.count(F.lit(1)).over(wsh))
    if counters is not None:
        row = (
            shc.filter(F.col("df") > max_shingle_freq)
            .agg(
                F.countDistinct("shingle").alias("n"),
                F.count(F.lit(1)).alias("rows"),
            )
            .collect()[0]
        )
        counters["shingles_capped"] = int(row["n"])
        counters["shingle_rows_capped"] = int(row["rows"])
    sh = shc.filter(F.col("df") <= max_shingle_freq).drop("df")
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))

    a = sh.select(F.col(id_col).alias("a"), "shingle")
    b = sh.select(F.col(id_col).alias("b"), "shingle")
    common = (
        a.join(b, "shingle")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("common"))
    )
    return (
        common.join(sizes.select(F.col(id_col).alias("a"), F.col("n_sh").alias("na")), "a")
        .join(sizes.select(F.col(id_col).alias("b"), F.col("n_sh").alias("nb")), "b")
        .withColumn("jaccard", F.col("common") / (F.col("na") + F.col("nb") - F.col("common")))
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", F.round("jaccard", 8).alias("jaccard"))
    )


def minhash_signatures(
    documents: DataFrame,
    *,
    num_perm: int = 64,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: int = 42,
    hasher: str = "xxhash64",
) -> DataFrame:
    """→ (doc_id, sig array<long>): MinHash signature per document.
    Permutation i is min over shingles of hash_i(shingle) — one
    hash-groupBy with num_perm JVM-side min aggregates (no UDF).

    ``hasher``: "xxhash64" (production — JVM intrinsic) or "portable"
    (polynomial mod-prime family, bit-identical in the DuckDB oracle)."""
    sh = shingles(documents, k=k, id_col=id_col, text_col=text_col)
    return minhash_signatures_from_elements(
        sh, num_perm=num_perm, id_col=id_col, elem_col="shingle",
        seed=seed, hasher=hasher,
    )


def minhash_signatures_from_elements(
    elements: DataFrame,
    *,
    num_perm: int = 64,
    id_col: str = "doc_id",
    elem_col: str = "shingle",
    seed: int = 42,
    hasher: str = "xxhash64",
) -> DataFrame:
    """→ (id, sig array<long>): MinHash signatures over explicit
    (id, element) SET rows — the set-valued generalization the text path
    feeds after shingling, and what set-similarity consumers (e.g.
    neighbor-set near-dup, operators.structure) feed directly. No
    distinct pass: min is duplicate-insensitive, so multiset inputs yield
    the identical set sketch, and the groupBy's partial aggregation
    combines map-side either way."""
    el = elements.select(F.col(id_col), F.col(elem_col).alias("_el"))
    if hasher == "portable":
        el = el.withColumn("_hs", poly_hash_expr(F.col("_el")))
        mins = [
            F.min(
                (F.col("_hs") * F.lit(MINHASH_A(i)) + F.lit(MINHASH_B(i))) % F.lit(POLY_P)
            ).alias(f"m{i}")
            for i in range(num_perm)
        ]
    elif hasher == "xxhash64":
        mins = [
            F.min(F.xxhash64(F.col("_el"), F.lit(seed + i))).alias(f"m{i}")
            for i in range(num_perm)
        ]
    else:
        raise ValueError(f"unknown hasher {hasher!r}")
    sigs = el.groupBy(id_col).agg(*mins)
    return sigs.select(id_col, F.array(*[f"m{i}" for i in range(num_perm)]).alias("sig"))


def _band_rows(
    sigs: DataFrame, *, bands: int, rows: int, id_col: str, hasher: str
) -> DataFrame:
    """(id, band, bh): LSH band keys from a signature table — shared by the
    within-table pair generator and the incremental (new-vs-corpus) path.
    hasher='portable' keeps the raw band-key string (the oracle must see
    identical buckets); production re-hashes it to one long."""

    def band_key(bi: int):
        key = F.concat_ws(
            ",", *[F.col("sig")[bi * rows + r].cast("string") for r in range(rows)]
        )
        return key if hasher == "portable" else F.xxhash64(key)

    band_cols = F.array(
        *[
            F.struct(F.lit(bi).alias("band"), band_key(bi).alias("bh"))
            for bi in range(bands)
        ]
    )
    return sigs.select(F.col(id_col), F.explode(band_cols).alias("b")).select(
        id_col, F.col("b.band").alias("band"), F.col("b.bh").alias("bh")
    )


def minhash_lsh_pairs(
    documents: DataFrame,
    *,
    num_perm: int = 64,
    bands: int = 16,
    k: int = 3,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: int = 42,
    max_bucket_size: int = 500,
    hasher: str = "xxhash64",
    counters: dict | None = None,
) -> DataFrame:
    """Banded-LSH candidate generation + signature-level verification:
    → (a, b, est_jaccard) with a < b, est_jaccard (matching signature
    fraction) ≥ threshold. Sub-quadratic: pairs are only generated inside
    band buckets; bucket size capped (skew guard for boilerplate-heavy
    corpora). ``hasher="portable"`` uses the oracle-reproducible hash
    family and joins on the raw band-key string (no re-hash — the oracle
    must see identical buckets).

    ``counters``: pass a dict to record the bucket-cap fire counts
    (buckets_capped = band buckets dropped by max_bucket_size,
    bucket_rows_capped = banded rows those buckets carried) — one extra
    aggregation job; bench-only."""
    assert num_perm % bands == 0
    sigs = minhash_signatures(
        documents, num_perm=num_perm, k=k, id_col=id_col, text_col=text_col,
        seed=seed, hasher=hasher,
    ).persist()
    return lsh_pairs_from_signatures(
        sigs, num_perm=num_perm, bands=bands, threshold=threshold,
        id_col=id_col, hasher=hasher, max_bucket_size=max_bucket_size,
        counters=counters,
    )


def lsh_pairs_from_signatures(
    sigs: DataFrame,
    *,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    hasher: str = "xxhash64",
    max_bucket_size: int = 500,
    counters: dict | None = None,
) -> DataFrame:
    """Banding + bucket cap + candidate self-join + signature verification
    over an existing (id, sig) table — the pair-generation half of
    minhash_lsh_pairs, shared with set-valued consumers
    (operators.structure.neighbor_minhash_pairs)."""
    assert num_perm % bands == 0
    rows = num_perm // bands
    banded = _band_rows(sigs, bands=bands, rows=rows, id_col=id_col, hasher=hasher)
    # skew guard: drop pathologically large buckets. r6: bucket size as a
    # COUNT window over the (band, bh) partitioning — the one exchange it
    # introduces is the same one the candidate self-join needs (the old
    # aggregate + semi-join shuffled the banded table twice more)
    wb = W.partitionBy("band", "bh")
    bc = banded.withColumn("bs", F.count(F.lit(1)).over(wb))
    if counters is not None:
        row = (
            bc.filter(F.col("bs") > max_bucket_size)
            .agg(
                F.countDistinct("band", "bh").alias("n"),
                F.count(F.lit(1)).alias("rows"),
            )
            .collect()[0]
        )
        counters["buckets_capped"] = int(row["n"])
        counters["bucket_rows_capped"] = int(row["rows"])
    banded = bc.filter(F.col("bs") <= max_bucket_size).drop("bs")
    cand = (
        banded.alias("x")
        .join(banded.alias("y"), ["band", "bh"])
        .filter(F.col(f"x.{id_col}") < F.col(f"y.{id_col}"))
        .select(F.col(f"x.{id_col}").alias("a"), F.col(f"y.{id_col}").alias("b"))
        .distinct()
    )
    verified = (
        cand.join(sigs.select(F.col(id_col).alias("a"), F.col("sig").alias("sig_a")), "a")
        .join(sigs.select(F.col(id_col).alias("b"), F.col("sig").alias("sig_b")), "b")
        .withColumn(
            "est_jaccard",
            F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda m: m))
            / F.lit(float(num_perm)),
        )
        .filter(F.col("est_jaccard") >= threshold)
        .select("a", "b", F.round("est_jaccard", 8).alias("est_jaccard"))
    )
    return verified


def simhash(
    documents: DataFrame,
    *,
    bits: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: int = 42,
    hasher: str = "xxhash64",
) -> DataFrame:
    """→ (doc_id, simhash long): per-bit majority vote over token hashes —
    bits columns of JVM-side sums, reassembled into one 64-bit value.
    ``hasher="portable"`` (oracle-reproducible) yields ≤ 50 usable bits
    (hash values live below the 2^50 prime) — pass bits ≤ 48."""
    toks = documents.select(
        F.col(id_col), F.explode(tokens_expr(F.col(text_col))).alias("tok")
    )
    if hasher == "portable":
        if bits > 48:
            raise ValueError("portable simhash supports at most 48 bits")
        h = poly_hash_expr(F.col("tok"))
        for m, a in SIMHASH_ROUNDS:
            h = (h * F.lit(m) + F.lit(a)) % F.lit(POLY_P)
    elif hasher == "xxhash64":
        h = F.xxhash64(F.col("tok"), F.lit(seed))
    else:
        raise ValueError(f"unknown hasher {hasher!r}")
    votes = [
        F.sum(
            F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, F.lit(1)).otherwise(F.lit(-1))
        ).alias(f"b{i}")
        for i in range(bits)
    ]
    agg = toks.groupBy(id_col).agg(*votes)
    sim = None
    for i in range(bits):
        bit = F.when(F.col(f"b{i}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, i)
        sim = term if sim is None else sim.bitwiseXOR(term)  # disjoint bits: XOR == OR == ADD
    return agg.select(id_col, sim.alias("simhash"))


def simhash_pairs(
    documents: DataFrame,
    *,
    max_hamming: int = 3,
    bits: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: int = 42,
    hasher: str = "xxhash64",
) -> DataFrame:
    """SimHash near-duplicate pairs: → (a, b, hamming ≤ max_hamming), a < b.
    Candidates via 4×(bits/4)-bit chunk banding, verified with
    bit_count(xor). Recall is EXACT for max_hamming ≤ 3 (pigeonhole: some
    chunk must be identical); above 3 the chunk-banding is best-effort."""
    assert bits % 4 == 0
    width = bits // 4
    mask = (1 << width) - 1
    sims = simhash(
        documents, bits=bits, id_col=id_col, text_col=text_col, seed=seed, hasher=hasher
    ).persist()
    chunks = F.array(
        *[
            F.struct(
                F.lit(c).alias("chunk"),
                F.shiftright(F.col("simhash"), c * width).bitwiseAND(F.lit(mask)).alias("ch"),
            )
            for c in range(4)
        ]
    )
    banded = sims.select(F.col(id_col), "simhash", F.explode(chunks).alias("c")).select(
        id_col, "simhash", F.col("c.chunk").alias("chunk"), F.col("c.ch").alias("ch")
    )
    cand = (
        banded.alias("x")
        .join(banded.alias("y"), ["chunk", "ch"])
        .filter(F.col(f"x.{id_col}") < F.col(f"y.{id_col}"))
        .select(
            F.col(f"x.{id_col}").alias("a"),
            F.col(f"y.{id_col}").alias("b"),
            F.col("x.simhash").alias("sa"),
            F.col("y.simhash").alias("sb"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
    )


# --- cascade ----------------------------------------------------------------


def _collapse_pair_families(survivors: DataFrame, pairs: DataFrame, id_col: str) -> DataFrame:
    """Drop every doc except one representative of its duplicate FAMILY
    (connected component of the pair graph) — pairwise greedy dropping
    under-removes on chains (a~b, b~c without a~c); the engine's own
    connected_components operator (pointer-doubled min-label) resolves
    transitivity exactly. Only docs that appear in a pair enter the CC run
    — isolated docs survive without touching the loop.

    Id domain: integral ids are offset into the unsigned range (x + 2⁶³ as
    decimal(20,0) — exact, overflow-free) and zero-padded to 20 chars, so
    lexicographic min == numeric min over the ENTIRE long range including
    negatives (r4 ADVICE: plain lpad sorts '-' below '0', silently picking
    a non-min representative for negative ids); string ids run as-is
    (representative = lexicographic min). Losers NEVER leave the string
    key domain — survivors anti-join on the same key expression, so no
    cast round-trip can silently null out the join (a long→string→long
    trip drops non-numeric ids). Other id types raise."""
    from pyspark.sql import types as T
    from pagerank_optimization_spark.operators.components import connected_components

    id_type = next(f.dataType for f in survivors.schema.fields if f.name == id_col)
    if isinstance(id_type, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        offset = F.lit("9223372036854775808").cast("decimal(20,0)")  # 2^63
        key = lambda c: F.lpad(  # noqa: E731
            (F.col(c).cast("decimal(20,0)") + offset).cast("string"), 20, "0"
        )
    elif isinstance(id_type, T.StringType):
        key = lambda c: F.col(c)  # noqa: E731
    else:
        raise TypeError(
            f"dedup family collapse needs an integral or string id column; "
            f"{id_col} is {id_type.simpleString()}"
        )
    vertices = (
        pairs.select(key("a").alias("entity"))
        .unionByName(pairs.select(key("b").alias("entity")))
        .distinct()
    )
    edges = pairs.select(key("a").alias("src"), key("b").alias("dst"))
    comp = connected_components(vertices, edges)
    losers = comp.filter(F.col("entity") != F.col("component")).select(
        F.col("entity").alias("_loser_key")
    )
    return (
        survivors.withColumn("_fam_key", key(id_col))
        .join(losers, F.col("_fam_key") == F.col("_loser_key"), "left_anti")
        .drop("_fam_key")
    )


def dedup_cascade(
    documents: DataFrame,
    *,
    embeddings: DataFrame | None = None,
    minhash_threshold: float = 0.5,
    semantic_threshold: float = 0.95,
    id_col: str = "doc_id",
    text_col: str = "text",
    emb_id_col: str = "vec_id",
    vec_col: str = "embedding",
    hasher: str = "xxhash64",
    semantic_exact: bool = False,
    counters: dict | None = None,
) -> tuple[DataFrame, list[dict]]:
    """The standard training-corpus dedup ladder as ONE job: exact →
    MinHash-LSH → (optional) semantic near-dup, each stage operating only
    on the previous stage's survivors (cheapest filter first, the cascade
    every large-scale pipeline runs — e.g. exact sha1 → MinHash → semantic
    in refined-web-style curation).

    → (survivors DataFrame with the original document columns,
       per-stage stats [{stage, input, removed, survivors}, ...]).

    The semantic stage runs iff ``embeddings`` is given (joined to
    survivors on id); docs without an embedding pass through untouched.
    Families at every tier collapse to their min-id member via connected
    components of the pair graph — transitively exact, not pairwise-greedy.
    Scale shape: each stage is the already-bucketed sub-quadratic operator
    (hash groupBy / banded LSH with bucket caps / LSH-bucketed cosine);
    the cascade adds only id anti-joins between stages.
    ``counters``: optional dict, forwarded to the MinHash-LSH stage to
    record its bucket-cap fire counts (bench-only; costs one extra job)."""
    stats: list[dict] = []
    # persist the input only if the caller hasn't — and only unpersist
    # frames THIS function pinned (r4 ADVICE: the cascade used to unpersist
    # the caller's cached docs frame, silently dropping the bench's cache
    # for every subsequent pipe_* trial)
    owned = not documents.is_cached
    survivors = documents.persist() if owned else documents
    n = survivors.count()

    ed = exact_dedup(survivors, id_col=id_col, text_col=text_col)
    keep = ed.filter(F.col(id_col) == F.col("canonical_id")).select(id_col)
    nxt = survivors.join(keep, id_col, "left_semi").persist()
    n1 = nxt.count()
    stats.append({"stage": "exact", "input": n, "removed": n - n1, "survivors": n1})
    if owned:
        survivors.unpersist()
    owned = True
    survivors, n = nxt, n1

    mh_pairs = minhash_lsh_pairs(
        survivors, threshold=minhash_threshold, id_col=id_col, text_col=text_col,
        hasher=hasher, counters=counters,
    )
    nxt = _collapse_pair_families(survivors, mh_pairs, id_col).persist()
    n1 = nxt.count()
    stats.append({"stage": "minhash_lsh", "input": n, "removed": n - n1, "survivors": n1})
    survivors.unpersist()
    survivors, n = nxt, n1

    if embeddings is not None:
        from pagerank_optimization_spark.operators.similarity import (
            embedding_neardup_pairs,
        )

        emb_surv = embeddings.join(
            survivors.select(F.col(id_col).alias(emb_id_col)), emb_id_col, "left_semi"
        )
        # semantic_exact=True runs the all-pairs cosine baseline instead of
        # the LSH-bucketed candidates — the SQL-expressible form the oracle
        # twin reproduces (production default stays sub-quadratic LSH)
        sem_pairs = embedding_neardup_pairs(
            emb_surv, threshold=semantic_threshold, id_col=emb_id_col,
            vec_col=vec_col, exact=semantic_exact,
        )
        nxt = _collapse_pair_families(survivors, sem_pairs, id_col).persist()
        n1 = nxt.count()
        stats.append({"stage": "semantic", "input": n, "removed": n - n1, "survivors": n1})
        survivors.unpersist()
        survivors, n = nxt, n1

    return survivors, stats


def dedup_against_corpus(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    *,
    num_perm: int = 64,
    bands: int = 16,
    k: int = 3,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: int = 42,
    hasher: str = "xxhash64",
    max_bucket_size: int = 500,
    counters: dict | None = None,
) -> tuple[DataFrame, list[dict]]:
    """Incremental dedup: filter a NEW batch against an EXISTING corpus —
    the daily-increment shape of a production pipeline (the crawl delta is
    deduped against the already-curated corpus; the corpus itself is never
    reprocessed). Asymmetric by construction: corpus docs always win, so
    no family collapse is needed — a new doc is dropped iff it exact- or
    near-matches ANY corpus doc.

    Stages (cheapest first, mirroring dedup_cascade):
    1. exact  — anti-join on the normalized-text fingerprint;
    2. minhash — signatures over corpus ∪ exact-survivors (one shared
       permutation family), banded LSH with the bucket cap applied to the
       COMBINED bucket (a boilerplate bucket is pathological regardless of
       which side fills it), candidates only across the new/corpus flag,
       signature-verified at ``threshold``.

    → (survivors of ``new_docs`` with original columns, per-stage stats).

    ``id_col`` values must be disjoint across the two tables (they key the
    shared signature table). Scale notes: the corpus side's signatures and
    band rows are pure functions of the corpus — at 100 TB a deployment
    persists them once as a table and reuses them per increment; this
    operator recomputes them when handed raw documents, which is the same
    plan minus the read. The cross join is band-bucketed (sub-quadratic),
    and within-batch duplicates are deliberately NOT collapsed here — run
    dedup_cascade on the surviving batch for that.
    """
    stats: list[dict] = []
    n0 = new_docs.count()

    # 1. exact: new docs matching any corpus fingerprint are dropped
    fp_new = fingerprint_expr(F.col(text_col))
    corpus_fp = corpus_docs.select(fingerprint_expr(F.col(text_col)).alias("_fp"))
    new1 = (
        new_docs.withColumn("_fp", fp_new)
        .join(corpus_fp, "_fp", "left_anti")
        .drop("_fp")
        .persist()
    )
    n1 = new1.count()
    stats.append({"stage": "exact", "input": n0, "removed": n0 - n1, "survivors": n1})

    # 2. minhash-LSH cross match
    rows = num_perm // bands
    union = corpus_docs.select(
        F.col(id_col), F.col(text_col), F.lit(0).alias("_new")
    ).unionByName(new1.select(F.col(id_col), F.col(text_col), F.lit(1).alias("_new")))
    flags = union.select(id_col, "_new")
    sigs = minhash_signatures(
        union, num_perm=num_perm, k=k, id_col=id_col, text_col=text_col,
        seed=seed, hasher=hasher,
    ).persist()
    banded = _band_rows(sigs, bands=bands, rows=rows, id_col=id_col, hasher=hasher)
    # r6: combined bucket size as a COUNT window over the (band, bh)
    # partitioning — shares the candidate join's exchange (see
    # lsh_pairs_from_signatures)
    wb = W.partitionBy("band", "bh")
    bc = banded.withColumn("bs", F.count(F.lit(1)).over(wb))
    if counters is not None:
        row = (
            bc.filter(F.col("bs") > max_bucket_size)
            .agg(
                F.countDistinct("band", "bh").alias("n"),
                F.count(F.lit(1)).alias("rows"),
            )
            .collect()[0]
        )
        counters["buckets_capped"] = int(row["n"])
        counters["bucket_rows_capped"] = int(row["rows"])
    banded = bc.filter(F.col("bs") <= max_bucket_size).drop("bs").join(flags, id_col)
    b_new = banded.filter(F.col("_new") == 1).select(
        F.col(id_col).alias("_nid"), "band", "bh"
    )
    b_cor = banded.filter(F.col("_new") == 0).select(
        F.col(id_col).alias("_cid"), "band", "bh"
    )
    cand = b_new.join(b_cor, ["band", "bh"]).select("_nid", "_cid").distinct()
    matched = (
        cand.join(
            sigs.select(F.col(id_col).alias("_nid"), F.col("sig").alias("sig_a")),
            "_nid",
        )
        .join(
            sigs.select(F.col(id_col).alias("_cid"), F.col("sig").alias("sig_b")),
            "_cid",
        )
        .withColumn(
            "est_jaccard",
            F.size(
                F.filter(
                    F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda m: m
                )
            )
            / F.lit(float(num_perm)),
        )
        .filter(F.col("est_jaccard") >= threshold)
        .select(F.col("_nid").alias(id_col))
        .distinct()
    )
    survivors = new1.join(matched, id_col, "left_anti")
    n2 = survivors.count()
    stats.append(
        {"stage": "minhash_vs_corpus", "input": n1, "removed": n1 - n2, "survivors": n2}
    )
    sigs.unpersist()
    new1.unpersist()
    return survivors, stats


def ngram_containment_pairs(
    documents: DataFrame,
    *,
    k: int = 3,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_shingle_freq: int = 1000,
    counters: dict | None = None,
) -> DataFrame:
    """Exact k-gram CONTAINMENT pairs: → (a, b, containment) where
    containment = |S(a) ∩ S(b)| / |S(a)| ≥ threshold, a ≠ b (ordered:
    the row says "a is contained in b").

    Containment (Broder 1997's other resemblance measure) catches what
    symmetric Jaccard structurally cannot: a short document quoted or
    embedded inside a long one scores |A∩B|/|A| ≈ 1 while its Jaccard
    ≈ |A|/|B| ≈ 0 — the partial-copy / quotation / page-wrapped-article
    shape that web dedup pipelines filter with exactly this statistic.

    Same machinery and same skew guard as ngram_jaccard_pairs (one
    shingle self-join bounded by max_shingle_freq, sizes joined back,
    map-side-combinable counts); the output is ordered pairs, so both
    (a,b) and (b,a) can appear — each with its own denominator."""
    sh = shingles(documents, k=k, id_col=id_col, text_col=text_col)
    # r6: df as a COUNT window over the shingle partitioning — shares the
    # self-join's exchange (see ngram_jaccard_pairs)
    wsh = W.partitionBy("shingle")
    shc = sh.withColumn("df", F.count(F.lit(1)).over(wsh))
    if counters is not None:
        row = (
            shc.filter(F.col("df") > max_shingle_freq)
            .agg(
                F.countDistinct("shingle").alias("n"),
                F.count(F.lit(1)).alias("rows"),
            )
            .collect()[0]
        )
        counters["shingles_capped"] = int(row["n"])
        counters["shingle_rows_capped"] = int(row["rows"])
    sh = shc.filter(F.col("df") <= max_shingle_freq).drop("df")
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))

    a = sh.select(F.col(id_col).alias("a"), "shingle")
    b = sh.select(F.col(id_col).alias("b"), "shingle")
    common = (
        a.join(b, "shingle")
        .filter(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("common"))
    )
    return (
        common.join(sizes.select(F.col(id_col).alias("a"), F.col("n_sh").alias("na")), "a")
        .withColumn("containment", F.col("common") / F.col("na"))
        .filter(F.col("containment") >= threshold)
        .select("a", "b", F.round("containment", 8).alias("containment"))
    )


def positional_shingles(
    documents: DataFrame, *, k: int = 5, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """→ (doc_id, pos, gram): EVERY word k-gram per document with its
    1-based token position (non-distinct, unlike ``shingles`` — repeated
    grams keep each occurrence, positions are what span detection needs).
    Pure sequence/slice codegen, no Python."""
    toks = tokens_expr(F.col(text_col))
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - k + 1, F.lit(1))),
        lambda i: F.struct(
            i.alias("pos"), F.concat_ws(" ", F.slice(toks, i, k)).alias("gram")
        ),
    )
    return (
        documents.select(F.col(id_col), F.explode(grams).alias("g"))
        .select(id_col, F.col("g.pos").alias("pos"), F.col("g.gram").alias("gram"))
        .filter(F.size(F.split(F.col("gram"), " ")) == k)
    )


def substring_dup_spans(
    documents: DataFrame,
    *,
    k: int = 5,
    min_match_tokens: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_gram_freq: int = 1000,
    counters: dict | None = None,
) -> DataFrame:
    """EXACT duplicated-substring spans between documents — the
    substring-level dedup shape of Lee et al. 2022 ("Deduplicating
    Training Data Makes Language Models Better": cross-document verbatim
    passages matter even when whole-document similarity is low), found
    without suffix arrays: two documents share a verbatim run of
    ``m ≥ min_match_tokens`` tokens iff they share ``m − k + 1``
    CONSECUTIVE k-grams on one alignment diagonal.

    → DataFrame(a, b, a_start, b_start, match_tokens) with a < b: each
    maximal shared token run of at least ``min_match_tokens`` tokens,
    with its 1-based start position in both documents. All-integer
    output — hash-exact against the SQL twin.

    Plan (all codegen, no Python):
    1. positional k-grams per doc (one explode — the only corpus-sized
       pass), hot grams above ``max_gram_freq`` occurrences dropped
       (boilerplate carries no span signal but O(f²) join fan-out — the
       ``max_shingle_freq`` guard applied positionally);
    2. gram self-join (a < b) keyed on the gram string → matching
       position pairs (pa, pb) with alignment diagonal d = pa − pb;
    3. gaps-and-islands per (a, b, d): island = pa − row_number(pa), so
       consecutive pa values group into one island; run length L on a
       diagonal = shared substring of k + L − 1 tokens.

    100 TB shape: the self-join is the hot stage and is bounded by the
    frequency cap exactly like ngram_jaccard_pairs; the islands window
    partitions by (a, b, d) — bounded by min(len(a), len(b)) rows, never
    corpus-sized. At full scale run it AFTER a candidate filter (MinHash
    pairs / dedup_cascade families) so the gram join only sees suspect
    pairs; here it is the standalone exact operator the oracle can check.

    ``counters``: as in ngram_jaccard_pairs — skew-cap fire counts
    (grams_capped, gram_rows_capped), bench-only.
    """
    if min_match_tokens < k:
        raise ValueError(
            f"substring_dup_spans: min_match_tokens ({min_match_tokens}) must be >= k ({k})"
        )
    min_run = min_match_tokens - k + 1
    g = positional_shingles(documents, k=k, id_col=id_col, text_col=text_col)
    # r6: occurrence count as a COUNT window over the gram partitioning —
    # the ONE hash(gram) exchange it introduces is the same one the
    # self-join below requires, so the corpus-sized positional explode runs
    # once and both join sides read the shared shuffle (the old aggregate +
    # semi-join re-ran the explode and shuffled the gram table twice more)
    wg = W.partitionBy("gram")
    gc = g.withColumn("occ", F.count(F.lit(1)).over(wg))
    if counters is not None:
        row = (
            gc.filter(F.col("occ") > max_gram_freq)
            .agg(
                F.countDistinct("gram").alias("n"),
                F.count(F.lit(1)).alias("rows"),
            )
            .collect()[0]
        )
        counters["grams_capped"] = int(row["n"])
        counters["gram_rows_capped"] = int(row["rows"])
    g = gc.filter(F.col("occ") <= max_gram_freq).drop("occ")

    a = g.select(F.col(id_col).alias("a"), F.col("pos").alias("pa"), "gram")
    b = g.select(F.col(id_col).alias("b"), F.col("pos").alias("pb"), "gram")
    m = (
        a.join(b, "gram")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", "pa", "pb", (F.col("pa") - F.col("pb")).alias("d"))
    )
    w = W.partitionBy("a", "b", "d").orderBy("pa")
    runs = (
        m.withColumn("isl", F.col("pa") - F.row_number().over(w))
        .groupBy("a", "b", "d", "isl")
        .agg(
            F.count("*").alias("run_len"),
            F.min("pa").alias("a_start"),
            F.min("pb").alias("b_start"),
        )
        .filter(F.col("run_len") >= min_run)
    )
    return runs.select(
        "a",
        "b",
        F.col("a_start").cast("long").alias("a_start"),
        F.col("b_start").cast("long").alias("b_start"),
        (F.col("run_len") + F.lit(k - 1)).cast("long").alias("match_tokens"),
    )


def winnow_fingerprints(
    documents: DataFrame,
    *,
    k: int = 7,
    w: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken 2003, the
    MOSS scheme): → (id, pos, gram_hash) — the selected character-k-gram
    hashes with their 1-based positions in the normalized text. Any two
    documents sharing a substring of ≥ w+k−1 normalized characters are
    GUARANTEED to share a fingerprint (the winnowing coverage property),
    at expected density 2/(w+1) — the passage-level near-dup detector
    between exact line dedup and MinHash.

    Selection rule: a gram is selected iff its hash is the minimum of at
    least one full window of w consecutive gram hashes ("all-argmin"
    winnowing — on in-window ties EVERY minimal position is selected,
    which keeps the rule order-free and portable; the guarantee only
    needs ≥1 selection per window). Documents shorter than w+k−1 chars
    contribute their single all-grams window.

    Implemented as two window passes over the exploded gram table, both
    plain BIGINT min/max — no structs, no UDFs: (1) per window START p,
    wmin(p) = min hash over rows [p, p+w−1], kept only for full windows;
    (2) a gram at q is selected iff max over starts p ∈ [q−w+1, q] of
    wmin(p) equals h(q) (every such wmin ≤ h(q), so the max hits h(q)
    iff SOME window's min is exactly it). Hashes are the portable
    polynomial family (functions.text.poly_hash_expr), reproduced
    verbatim in the DuckDB twin.

    Scale shape: one explode (bounded per doc by text length), two
    windows partitioned by id — per-partition state is O(doc length),
    bounded by construction, no hot key possible; output density 2/(w+1)
    of the gram count. The text is split to a codepoint array ONCE per
    document and each gram hash folds over an int-array slice — the naive
    per-gram substring+split formulation re-materialized k char objects
    per position and measured 5× slower at sf0.1 (18s → 3.4s for 1.43M
    grams); same math (functions.text.poly_hash_expr), same values."""
    from pagerank_optimization_spark.functions.text import POLY_H0, POLY_P

    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"[^a-z0-9]+", " "))
    codes = F.transform(
        F.filter(F.split(norm, ""), lambda c: c != ""),
        lambda c: F.ascii(c).cast("long"),
    )
    d = documents.select(
        F.col(id_col),
        codes.alias("_codes"),
        F.greatest(F.size(codes) - F.lit(k - 1), F.lit(1)).alias("_np"),
    )
    grams = d.select(
        id_col,
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.col("_np")),
                lambda i: F.aggregate(
                    F.slice("_codes", i, k),
                    F.lit(POLY_H0).cast("long"),
                    lambda acc, x: (acc * F.lit(31) + x) % F.lit(POLY_P),
                ),
            )
        ).alias("pos0", "h"),
    ).select(id_col, (F.col("pos0") + 1).alias("pos"), "h")

    w_fwd = W.partitionBy(id_col).orderBy("pos").rowsBetween(0, w - 1)
    w_all = W.partitionBy(id_col)
    w_bwd = W.partitionBy(id_col).orderBy("pos").rowsBetween(-(w - 1), 0)

    with_min = grams.select(
        id_col,
        "pos",
        "h",
        F.when(
            F.col("pos")
            <= F.greatest(F.count("*").over(w_all) - F.lit(w - 1), F.lit(1)),
            F.min("h").over(w_fwd),
        ).alias("wmin"),
    )
    return (
        with_min.withColumn("sel", F.max("wmin").over(w_bwd) == F.col("h"))
        .filter("sel")
        .select(F.col(id_col), "pos", F.col("h").alias("gram_hash"))
    )


def winnow_pairs(
    documents: DataFrame,
    *,
    k: int = 7,
    w: int = 8,
    min_shared: int = 3,
    max_gram_freq: int = 1000,
    id_col: str = "doc_id",
    text_col: str = "text",
    counters: dict | None = None,
) -> DataFrame:
    """MOSS-style near-dup pairs from winnowing fingerprints: → (a, b,
    n_shared) with a < b and ≥ ``min_shared`` distinct shared fingerprint
    hashes — the passage-plagiarism detector (shared LONG substrings) that
    complements MinHash's bag-of-shingles similarity.

    Scale shape: the candidate join is the shared-fingerprint self-join —
    cost Σ_h freq(h)² over fingerprint hashes, so boilerplate grams
    selected by everyone are dropped above ``max_gram_freq`` first (the
    max_shingle_freq guard; a fingerprint shared by the whole corpus
    carries no pair signal). Fingerprint density is 2/(w+1) of grams, so
    the join input is ~4× smaller than the equivalent shingle join before
    any capping. ``counters``: optional cap-fire dict (bench-only)."""
    # r6 plan: the per-doc distinct rides the windows' existing hash(id)
    # partitioning (no new exchange — HashPartitioning(id) satisfies the
    # (id, h) clustering), and the hash frequency is a COUNT window over
    # the h partitioning that shares the self-join's exchange (the old
    # aggregate + semi-join form shuffled the fingerprint table by h three
    # times and re-ran the 2-window selection chain for each)
    fp = winnow_fingerprints(
        documents, k=k, w=w, id_col=id_col, text_col=text_col
    ).select(F.col(id_col).alias("id"), F.col("gram_hash").alias("h")).distinct()
    wh = W.partitionBy("h")
    fpc = fp.withColumn("hf", F.count(F.lit(1)).over(wh))
    if counters is not None:
        row = (
            fpc.filter(F.col("hf") > max_gram_freq)
            .agg(
                F.countDistinct("h").alias("n"),
                F.count(F.lit(1)).alias("rows"),
            )
            .collect()[0]
        )
        counters["winnow_grams_capped"] = int(row["n"])
        counters["winnow_gram_rows_capped"] = int(row["rows"])
    fp = fpc.filter(F.col("hf") <= max_gram_freq).drop("hf")
    return (
        fp.alias("x")
        .join(fp.alias("y"), "h")
        .filter(F.col("x.id") < F.col("y.id"))
        .groupBy(F.col("x.id").alias("a"), F.col("y.id").alias("b"))
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
