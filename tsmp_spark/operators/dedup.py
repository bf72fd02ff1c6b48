"""Deduplication operators for large-scale training-data pipelines.

All hash functions are built on ``md5`` (hex → bigint) so every operator is
engine-portable: the DuckDB oracles in ``__spark_entry__.py`` reproduce the
exact same signatures. Spark-side everything is built-in expressions
(JVM-side, codegen) — no Python in the hot path.

Scale notes:
- exact dedup is one hash-groupBy (map-side combinable).
- n-gram Jaccard and MinHash-LSH avoid the O(n²) cross join: candidates
  come from an equi-join on shingle / band key, so the shuffle is
  |shingles| not |docs|². Hot shingles (stopword runs) are the skew risk —
  the candidate join uses AQE skew handling plus a frequency cap on
  shingles (a shingle shared by > ``max_shingle_freq`` docs carries almost
  no signal and is dropped, bounding the join fan-out).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

from .cache import checkpoint_rounds, pin


def _h64(col: Column, seed: int) -> Column:
    """Portable 32-bit-ish hash #seed: one md5 digest yields FOUR hashes
    (8 hex chars each) — seed selects digest ``seed // 4`` (salted with
    's{g}:') and hex slice ``seed % 4``. Reproducible in DuckDB as
    cast('0x' || substr(md5('s{g}:' || value), 1+8*(seed%4), 8) as bigint);
    4× fewer digests than hashing per seed."""
    g, part = divmod(seed, 4)
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(f"s{g}:"), col)), 1 + 8 * part, 8), 16, 10
    ).cast("long")


def normalize_text(col: Column) -> Column:
    """Canonical text for dedup: lowercase, collapse whitespace."""
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


def exact_dedup(
    documents: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact duplicate groups by content hash; keeps the smallest id as the
    canonical representative. Returns (keep_id, dup_count)."""
    h = F.md5(normalize_text(F.col(text_col))).alias("content_hash")
    return (
        documents.select(F.col(id_col), h)
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("dup_count"))
    )


def word_shingles(text_col: Column, n: int = 3) -> Column:
    """Word n-gram shingles as an array<string> (distinct)."""
    words = F.split(normalize_text(text_col), " ")
    k = F.size(words) - (n - 1)
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(k - 1, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)),
        )
    )


def _spread(documents: DataFrame, parallelism: int | None) -> DataFrame:
    """Optionally repartition the input before the per-doc expression work
    (shingle explode + md5 family). At warehouse scale the scan has
    thousands of natural splits and this must stay ``None`` (no shuffle);
    on a handful of small local files a single parquet row group pins the
    whole hash pipeline to one task — pass the core count to spread it."""
    return documents.repartition(parallelism) if parallelism else documents


def shingle_table(
    documents: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """(doc_id, shingle) exploded table — the base of Jaccard and MinHash."""
    return documents.select(
        F.col(id_col).alias("doc_id"),
        F.explode(word_shingles(F.col(text_col), n)).alias("shingle"),
    ).filter(F.length("shingle") > 0)


def ngram_jaccard_pairs(
    documents: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_freq: int = 64,
    parallelism: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by word-n-gram Jaccard similarity.

    |A ∩ B| from the shingle equi-join; |A ∪ B| = |A| + |B| − |A ∩ B|.
    Hot shingles capped at ``max_shingle_freq`` docs (skew + noise control).
    Emits (doc_a, doc_b, jaccard) with doc_a < doc_b.
    """
    # the shingle table feeds four lineages (sizes, freq, both join sides);
    # pin it once — at scale this is the "write shingles, then join"
    # pattern, and locally it avoids 4× re-derivation of the explode+hash;
    # callers release via operators.cache.release_caches() after the action
    sh = pin(shingle_table(_spread(documents, parallelism), text_col, id_col, n))
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    freq = sh.groupBy("shingle").agg(F.count("*").alias("freq"))
    sh_f = sh.join(freq.filter(F.col("freq") <= max_shingle_freq), "shingle")

    a = sh_f.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh_f.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def minhash_signatures(
    documents: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 16,
    parallelism: int | None = None,
) -> DataFrame:
    """MinHash signature per document: ``sig[i] = min over shingles of
    h_i(shingle)`` with the portable md5 family. Output:
    (doc_id, sig array<long>)."""
    sh = shingle_table(_spread(documents, parallelism), text_col, id_col, n)
    mins = [F.min(_h64(F.col("shingle"), i)).alias(f"h{i}") for i in range(num_hashes)]
    agg = sh.groupBy("doc_id").agg(*mins)
    return agg.select(
        "doc_id", F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("sig")
    )


def _band_keys(sig: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """Explode a signature table into (doc_id, sig, band, key) LSH band
    rows — the band-key derivation shared by the self-join and the
    cross-corpus pair generators (identical expressions on both)."""
    rows_per_band = num_hashes // bands
    return sig.select(
        "doc_id",
        "sig",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.concat_ws(
                        ",", F.transform(F.slice("sig", b * rows_per_band + 1, rows_per_band), lambda x: x.cast("string"))
                    ).alias("key"),
                ),
            )
        ).alias("bk"),
    ).select("doc_id", "sig", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))


def minhash_lsh_pairs(
    documents: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    parallelism: int | None = None,
) -> DataFrame:
    """MinHash + LSH near-dup candidates: split the signature into
    ``bands`` bands of ``num_hashes/bands`` rows; docs sharing any band key
    become candidates; verify candidates with the estimated Jaccard
    (= fraction of agreeing minhashes). Emits (doc_a, doc_b, est_jaccard).
    """
    # signatures are tiny (one row per doc) but expensive to derive
    # (shingle explode + num_hashes md5 scans) — pin before the
    # self-join uses them on both sides (release via cache.release_caches)
    sig = pin(
        minhash_signatures(
            documents, text_col, id_col, n, num_hashes, parallelism=parallelism
        )
    )
    banded = _band_keys(sig, num_hashes, bands)

    a = banded.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"), "band", "key")
    b = banded.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"), "band", "key")
    cand = (
        a.join(b, ["band", "key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sig_a", "sig_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    agree = F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda m: m))
    return (
        cand.withColumn("est_jaccard", agree / F.lit(float(num_hashes)))
        .filter(F.col("est_jaccard") >= threshold)
        .select("doc_a", "doc_b", "est_jaccard")
    )


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components by alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond" —
    the standard O(log n)-round formulation; a plain min-label
    propagation needs O(diameter) rounds and dies on chain-shaped
    near-dup clusters).

    Each round is two shuffles (a groupBy-min and a join per star op);
    lineage is cut every round through :class:`cache.checkpoint_rounds`
    — without it the plan grows per iteration and falls over around
    iteration ~20.

    Returns (node, component) with component = the minimum node id
    reachable — deterministic, engine-portable (oracle: recursive-CTE
    transitive closure)."""
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )

    def undirected(df: DataFrame) -> DataFrame:
        return df.union(df.select(F.col("v").alias("u"), F.col("u").alias("v")))

    def large_star(df: DataFrame) -> DataFrame:
        nbrs = undirected(df)
        m = nbrs.groupBy("u").agg(F.min("v").alias("mv")).select(
            "u", F.least(F.col("mv"), F.col("u")).alias("m")
        )
        return (
            nbrs.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def small_star(df: DataFrame) -> DataFrame:
        # orient every edge toward the smaller endpoint
        directed = df.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        m = directed.groupBy("u").agg(F.min("v").alias("mv")).select(
            "u", F.least(F.col("mv"), F.col("u")).alias("m")
        )
        joined = directed.join(m, "u")
        out = joined.select(F.col("v").alias("u"), F.col("m").alias("v")).union(
            joined.select(F.col("u"), F.col("m").alias("v"))
        )
        return out.filter(F.col("u") != F.col("v")).distinct()

    with checkpoint_rounds() as ckpt:
        cur = ckpt(e)
        for _ in range(max_iter):
            nxt = ckpt(small_star(large_star(cur)))
            # converged when the edge set is stable (star graphs are fixpoints)
            changed = (
                nxt.exceptAll(cur).limit(1).count()
                + cur.exceptAll(nxt).limit(1).count()
            )
            cur = nxt
            if changed == 0:
                break
        else:
            import warnings

            warnings.warn(
                f"connected_components: edge set not at fixpoint after "
                f"{max_iter} rounds — components may be split; raise max_iter",
                RuntimeWarning,
                stacklevel=2,
            )
        # fixpoint edges are (node, root) stars; roots map to themselves
        nodes = e.select("u").union(e.select(F.col("v").alias("u"))).distinct()
        comp = cur.groupBy("u").agg(F.min("v").alias("component"))
        return ckpt.result(
            nodes.join(comp, "u", "left").select(
                F.col("u").alias("node"),
                F.coalesce("component", "u").alias("component"),
            )
        )


def dedup_groups(
    documents: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    parallelism: int | None = None,
) -> DataFrame:
    """Near-duplicate GROUPS: MinHash-LSH candidate pairs unioned into
    connected components, each doc keeping the group minimum as its
    canonical id — the standard fuzzy-dedup shape for training corpora
    (pairs alone under-merge: A~B, B~C must collapse to one keep).

    Output: (doc_id, keep_id, is_dup) for every document; singletons keep
    themselves."""
    pairs = minhash_lsh_pairs(
        documents, text_col, id_col, n, num_hashes, bands, threshold,
        parallelism=parallelism,
    )
    comps = connected_components(pairs)
    return (
        documents.select(F.col(id_col).alias("doc_id"))
        .join(comps, F.col("doc_id") == F.col("node"), "left")
        .select(
            "doc_id",
            F.coalesce("component", F.col("doc_id")).alias("keep_id"),
            (F.coalesce("component", F.col("doc_id")) != F.col("doc_id")).alias(
                "is_dup"
            ),
        )
    )


def simhash64(
    documents: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    parallelism: int | None = None,
) -> DataFrame:
    """64-bit SimHash over words: per bit, sum +1/−1 over the word
    multiset; positive sum → bit set. Emitted as two portable 32-bit
    halves (bigint) so the DuckDB oracle reproduces it bit-for-bit.
    Output: (doc_id, simhash_lo, simhash_hi)."""
    words = _spread(documents, parallelism).select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("word"),
    ).filter(F.length("word") > 0)
    hashed = words.select(
        "doc_id",
        # seeds 4 and 8 = digests 's1:'/'s2:' slice 0 (oracle-stable)
        _h64(F.col("word"), 4).alias("h_lo"),
        _h64(F.col("word"), 8).alias("h_hi"),
    )

    def half(src: str) -> Column:
        total = None
        for i in range(32):
            bit_sum = F.sum(
                F.when(F.shiftright(F.col(src), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            )
            term = F.when(bit_sum > 0, F.lit(int(2**i))).otherwise(F.lit(0))
            total = term if total is None else (total + term)
        return total.cast("long")

    return hashed.groupBy("doc_id").agg(
        half("h_lo").alias("simhash_lo"), half("h_hi").alias("simhash_hi")
    )


def shared_substring_spans(
    sequences: DataFrame,
    min_len: int = 20,
    max_gram_freq: int = 1000,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    parallelism: int | None = None,
) -> DataFrame:
    """Cross-document EXACT shared token substrings of length >=
    ``min_len`` — the substring-level dedup primitive (the suffix-array
    "exact substring" method of Lee et al. 2022, re-derived
    relationally): every maximal token run shared verbatim by two
    documents, with its position in each.

    How: each position emits an md5 anchor of its ``min_len``-gram; an
    equi-join on the anchor finds all (doc_a < doc_b, pos_a, pos_b)
    gram matches; a shared substring of length L >= min_len appears as
    L - min_len + 1 CONSECUTIVE matches along the constant diagonal
    ``pos_a - pos_b``, so an islands-and-gaps pass per (pair, diagonal)
    merges them into maximal spans: (doc_a, doc_b, pos_a, pos_b, length).

    Scale shape: shuffle = |gram occurrences| (corpus size), never
    |docs|²; ``max_gram_freq`` drops anchors shared by more than that
    many positions (boilerplate carries no dedup signal and is the
    quadratic-fan-out skew risk — same cap strategy as the shingle
    join). The islands merge keys on (pair, diagonal) — bounded by
    matched grams, and every stage is built-in expressions (no Python).

    Output: one row per maximal shared span (pos_* 0-based)."""
    k = int(min_len)
    toks = F.col(tokens_col)
    n_grams = F.size(toks) - (k - 1)
    grams = (
        _spread(sequences, parallelism)
        .filter(F.size(toks) >= k)
        .select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), n_grams - 1),
                    lambda i: F.md5(F.concat_ws(",", F.slice(toks, i + 1, k))),
                )
            ).alias("pos", "anchor"),
        )
    )
    grams = pin(grams)
    freq_ok = grams.groupBy("anchor").agg(F.count("*").alias("_f")).filter(
        F.col("_f") <= max_gram_freq
    )
    g = grams.join(freq_ok.select("anchor"), "anchor")
    a = g.select(F.col("doc_id").alias("doc_a"), F.col("pos").alias("pos_a"), "anchor")
    b = g.select(F.col("doc_id").alias("doc_b"), F.col("pos").alias("pos_b"), "anchor")
    hits = a.join(b, "anchor").filter(F.col("doc_a") < F.col("doc_b"))
    from pyspark.sql.window import Window

    w = Window.partitionBy(
        "doc_a", "doc_b", (F.col("pos_a") - F.col("pos_b")).alias("diag")
    ).orderBy("pos_a")
    islands = hits.withColumn(
        "island", F.col("pos_a") - F.row_number().over(w)
    )
    return (
        islands.groupBy(
            "doc_a", "doc_b", (F.col("pos_a") - F.col("pos_b")).alias("diag"), "island"
        )
        .agg(
            F.min("pos_a").alias("pos_a"),
            F.min("pos_b").alias("pos_b"),
            (F.max("pos_a") - F.min("pos_a") + k).alias("length"),
        )
        .select("doc_a", "doc_b", "pos_a", "pos_b", "length")
    )


def remove_substring_spans(
    sequences: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
) -> DataFrame:
    """Apply substring-level dedup: for every shared span (doc_a <
    doc_b), CUT the occurrence from the higher doc_id and keep the
    lower — one surviving copy per duplicated substring (the rewrite
    half of Lee et al.'s exact-substring dedup; pair
    :func:`shared_substring_spans` for detection).

    Overlapping spans on one doc union naturally: a token goes when ANY
    span covers it (per-token `exists` over the doc's interval list —
    intervals per doc are few, so the per-row cost is O(n_tok·k)).

    Plan: spans aggregate to one interval-array row per victim doc
    (groupBy doc_b), then ONE left join back to the corpus and a pure
    expression rewrite — docs without spans stream through untouched
    with zero per-row work. Output keeps every input column shape:
    (doc_id, tokens, n_tok, n_removed)."""
    ivs = (
        spans.groupBy(F.col("doc_b").alias(id_col))
        .agg(
            F.collect_list(
                F.struct(
                    F.col("pos_b").alias("s"),
                    (F.col("pos_b") + F.col("length")).alias("e"),
                )
            ).alias("_ivs")
        )
    )
    toks = F.col(tokens_col)
    covered = lambda i: F.exists(
        F.col("_ivs"), lambda iv: (i >= iv["s"]) & (i < iv["e"])
    )
    kept = F.when(F.col("_ivs").isNull(), toks).otherwise(
        F.filter(toks, lambda x, i: ~covered(i))
    )
    return (
        sequences.join(ivs, id_col, "left")
        .withColumn("_new", kept)
        .select(
            F.col(id_col).alias("doc_id"),
            F.col("_new").alias("tokens"),
            F.size("_new").alias("n_tok"),
            (F.size(toks) - F.size("_new")).alias("n_removed"),
        )
    )


def paragraph_dedup(
    documents: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Paragraph-level exact dedup (the CCNet / FineWeb curation step:
    Wenzek et al. 2019, arXiv:1911.00359 §3.1): within the whole corpus,
    each normalized paragraph (lowercase, trim, collapsed whitespace)
    survives only at its FIRST occurrence in (doc, position) order;
    duplicate occurrences are cut from their documents. Blank paragraphs
    are dropped outright.

    Scale shape: one shuffle keyed by the paragraph hash (the dedup
    window — key-bounded, never |docs|²) and one keyed by the doc id
    (reassembly). The duplicate decision hashes the NORMALIZED text but
    the surviving document keeps its original paragraph bytes.

    Returns ``id_col, n_paras, n_kept, clean_text`` for every input doc
    (all-duplicate docs come back with ``n_kept = 0, clean_text = ''``).
    """
    from pyspark.sql import Window

    para = F.col("para")
    norm = F.regexp_replace(F.lower(F.trim(para)), r"\s+", " ")
    # the dedup window and the per-doc total both consume this lineage —
    # pin it so the explode+md5 scan runs once (cache.release_caches frees)
    paras = pin(
        documents.select(
            F.col(id_col), F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "para")
        )
        .filter(F.length(F.trim(para)) > 0)
        .withColumn("k", F.md5(norm))
    )
    w = Window.partitionBy("k").orderBy(F.col(id_col).asc(), F.col("pos").asc())
    kept = paras.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    agg = kept.groupBy(id_col).agg(
        F.count("*").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "para"))), lambda s: s["para"]
            ),
            "\n",
        ).alias("clean_text"),
    )
    tot = paras.groupBy(id_col).agg(F.count("*").alias("n_paras"))
    return (
        documents.select(id_col)
        .join(tot, id_col, "left")
        .join(agg, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_paras", F.lit(0)).alias("n_paras"),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )


def simhash_neardup_pairs(
    documents: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    parallelism: int | None = None,
    max_band_freq: int | None = None,
) -> DataFrame:
    """SimHash Hamming-ball near-duplicate pairs (Manku, Jain & Sarma
    2007, "Detecting Near-Duplicates for Web Crawling"): two 64-bit
    signatures within Hamming distance d <= 3 agree EXACTLY on at least
    one of 4 disjoint 16-bit bands (pigeonhole), so candidates come from
    a banded equi-join — shuffle is (doc, band-key)-bounded, never
    |docs|² — and each candidate is verified with
    ``bit_count(xor)`` over the signature halves.

    ``max_band_freq`` is the hot-band analogue of ngram_jaccard's
    ``max_shingle_freq``: band keys shared by more than this many docs
    are dropped from candidate generation, capping the per-key fan-out
    at freq² (a documented recall trade at warehouse scale — a pair
    suppressed in one band usually survives in another; None = exact).

    Output: (doc_a, doc_b, hamming) with doc_a < doc_b.
    """
    if not 0 <= max_hamming <= 3:
        raise ValueError("4x16-bit banding proves candidates only for max_hamming <= 3")
    sig = pin(simhash64(documents, text_col, id_col, parallelism))
    lo, hi = F.col("simhash_lo"), F.col("simhash_hi")
    keys = F.array(
        lo.bitwiseAND(F.lit(0xFFFF)),
        F.shiftright(lo, 16).bitwiseAND(F.lit(0xFFFF)),
        hi.bitwiseAND(F.lit(0xFFFF)),
        F.shiftright(hi, 16).bitwiseAND(F.lit(0xFFFF)),
    )
    bands = sig.select(
        F.col("doc_id"), lo, hi, F.posexplode(keys).alias("band", "key")
    )
    if max_band_freq is not None:
        from pyspark.sql.window import Window

        wf = Window.partitionBy("band", "key")
        bands = bands.withColumn("_f", F.count("*").over(wf)).filter(
            F.col("_f") <= max_band_freq
        ).drop("_f")
    a = bands.select(
        F.col("doc_id").alias("doc_a"),
        lo.alias("lo_a"),
        hi.alias("hi_a"),
        "band",
        "key",
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"),
        lo.alias("lo_b"),
        hi.alias("hi_b"),
        "band",
        "key",
    )
    ham = F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b"))) + F.bit_count(
        F.col("hi_a").bitwiseXOR(F.col("hi_b"))
    )
    return (
        a.join(b, ["band", "key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def duplication_rate(
    documents: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Per-document duplication rate (the RefinedWeb/Gopher corpus-health
    metric): the fraction of a document's DISTINCT word n-gram shingles
    that occur in at least one OTHER document. 0 = fully novel text,
    1 = everything it says is said elsewhere — the corpus-level signal
    that drives dedup budgeting before any pairwise pass.

    Scale shape: one shuffle keyed by the shingle (a groupBy counting
    distinct docs per shingle — map-side combinable) and one keyed by
    the doc for the fraction — never |docs|². The shingle lineage feeds
    both, so it is pinned (release via cache.release_caches).

    Output: (doc_id, n_shingles, n_duplicated, dup_rate r6). Docs with
    no shingles (blank/too short) emit dup_rate NULL.
    """
    sh = pin(shingle_table(documents, text_col, id_col, n))
    freq = sh.groupBy("shingle").agg(
        F.countDistinct("doc_id").alias("_docs")
    )
    per_doc = (
        sh.join(freq, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum((F.col("_docs") > 1).cast("long")).alias("n_duplicated"),
        )
    )
    return (
        documents.select(F.col(id_col).alias("doc_id"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shingles", F.lit(0)).alias("n_shingles"),
            F.coalesce("n_duplicated", F.lit(0)).alias("n_duplicated"),
            F.round(F.col("n_duplicated") / F.col("n_shingles"), 6).alias("dup_rate"),
        )
    )


def source_contamination(
    documents: DataFrame,
    threshold: float = 0.1,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Cross-source NEAR-duplicate contamination matrix: for every
    source pair (a ≤ b), how many near-dup document pairs (n-gram
    Jaccard ≥ ``threshold``, the ``ngram_jaccard_pairs`` candidates)
    have one member in each — "how much of crawl B re-crawls A", the
    corpus-health rollup of the dedup layer. Diagonal = within-source
    pairs. Integer-only output.

    Scale: rides entirely on the shingle-bounded pair generator (its
    ``max_shingle_freq`` cap applies); the source lookup joins the
    pairs (small) to the doc→source map on the doc key — bounded by
    |pairs|, never |docs|².
    """
    pairs = ngram_jaccard_pairs(
        documents, threshold=threshold, text_col=text_col, id_col=id_col
    )
    src_map = documents.select(
        F.col(id_col).alias("doc"), F.col(source_col).alias("src")
    )
    joined = (
        pairs.join(src_map.withColumnRenamed("doc", "doc_a")
                   .withColumnRenamed("src", "src_a"), "doc_a")
        .join(src_map.withColumnRenamed("doc", "doc_b")
              .withColumnRenamed("src", "src_b"), "doc_b")
    )
    return (
        joined.select(
            F.least("src_a", "src_b").alias("source_a"),
            F.greatest("src_a", "src_b").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count("*").cast("bigint").alias("dup_pairs"))
    )


def minhash_cross_pairs(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    parallelism: int | None = None,
) -> DataFrame:
    """FUZZY decontamination: MinHash-LSH near-duplicate pairs BETWEEN
    two corpora (train side × benchmark side) — the approximate
    companion of the exact 13-gram ``decontaminate``: catches benchmark
    documents that were lightly edited before landing in the training
    set, where exact n-gram overlap misses. Same signatures, same band
    keys (`_band_keys`, shared with the self-join generator), but the
    candidate join is corpus-bands ⋈ BROADCAST(benchmark-bands) — the
    benchmark side is small by contract, so the corpus never shuffles
    for candidate generation.

    Output (doc_id, bench_id, n_agree, est_jaccard) for pairs at or
    above ``threshold``; ``n_agree`` is the integer signature-agreement
    count (the estimate's exact numerator).
    """
    sig_c = minhash_signatures(
        corpus, text_col, id_col, n, num_hashes, parallelism=parallelism
    )
    sig_b = minhash_signatures(benchmark, text_col, id_col, n, num_hashes)
    banded_c = _band_keys(sig_c, num_hashes, bands)
    banded_b = _band_keys(sig_b, num_hashes, bands).select(
        F.col("doc_id").alias("bench_id"),
        F.col("sig").alias("sig_b"),
        "band",
        "key",
    )
    cand = (
        banded_c.join(F.broadcast(banded_b), ["band", "key"])
        .select(
            F.col("doc_id"), F.col("bench_id"),
            F.col("sig").alias("sig_a"), "sig_b",
        )
        .dropDuplicates(["doc_id", "bench_id"])
    )
    agree = F.size(
        F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda m: m)
    )
    return (
        cand.withColumn("n_agree", agree.cast("bigint"))
        .withColumn(
            "est_jaccard", F.col("n_agree") / F.lit(float(num_hashes))
        )
        .filter(F.col("est_jaccard") >= threshold)
        .select("doc_id", "bench_id", "n_agree", "est_jaccard")
    )


def winnow_fingerprints(
    documents: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    window: int = 4,
    parallelism: int | None = None,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every positional word
    n-gram, then from each sliding window of ``window`` consecutive
    hashes select the RIGHTMOST minimum. The selected (position, hash)
    set is the fingerprint — it provably contains a shared fingerprint
    for any match of length ≥ window+n−1 words, the local/positional
    near-dup detector next to the global MinHash/SimHash family
    (``doc_fingerprint`` is the degenerate 1-hash global min).

    Relational selection rule (validated against brute-force winnowing
    over 3000 tie-heavy random draws): with dl = distance to the
    nearest STRICTLY smaller hash on the left and dr = distance to the
    nearest ≤ hash on the right (both capped at ``window``, doc edges =
    no violator), position j is selected iff a full window exists that
    contains j and excludes both violators:
    max(1, j−window+1, j−dl+1) ≤ min(j, n_grams−window+1, j+dr−window).
    Both distances come from ``window−1`` lag/lead columns — pure
    codegen over ONE per-doc window pass, no self-join. Docs with fewer
    than ``window`` grams fall back to the paper's rule for the single
    truncated window: the rightmost global minimum. Ties are integer
    hash comparisons — deterministic on both engines.

    Scale: one (doc_id)-hash exchange for the window pass; output is
    ~2/(window+1) of gram count per doc. Emits (doc_id, pos, fp).
    """
    from pyspark.sql.window import Window

    words = F.split(normalize_text(F.col(text_col)), " ")
    k = F.size(words) - (n - 1)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(k, F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(words, i, n)),
    )
    g = (
        _spread(documents, parallelism)
        .select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(grams).alias("pos0", "gram"),
        )
        .filter(F.length("gram") > 0)
        .select(
            "doc_id",
            (F.col("pos0") + 1).cast("bigint").alias("j"),
            _h64(F.col("gram"), 0).alias("h"),
        )
    )
    wk = Window.partitionBy("doc_id").orderBy("j")
    wd = Window.partitionBy("doc_id")
    cols = [g["doc_id"], "j", "h"]
    for i in range(1, window):
        cols.append(F.lag("h", i).over(wk).alias(f"l{i}"))
        cols.append(F.lead("h", i).over(wk).alias(f"r{i}"))
    base = g.select(*cols).withColumn(
        "ng", F.count("*").over(wd)
    ).withColumn(
        "rn_min",
        F.row_number().over(
            Window.partitionBy("doc_id").orderBy(F.asc("h"), F.desc("j"))
        ),
    )

    def _dist(prefix: str, strict: bool) -> Column:
        c: Column | None = None
        expr = F.lit(window).cast("bigint")
        for i in range(window - 1, 0, -1):
            viol = (
                F.col(f"{prefix}{i}") < F.col("h")
                if strict
                else F.col(f"{prefix}{i}") <= F.col("h")
            )
            expr = F.when(viol, F.lit(i).cast("bigint")).otherwise(expr)
            c = expr
        return c if c is not None else expr

    dl = _dist("l", True)
    dr = _dist("r", False)
    j = F.col("j")
    lo = F.greatest(F.lit(1), j - window + 1, j - dl + 1)
    hi = F.least(j, F.col("ng") - window + 1, j + dr - window)
    selected = F.when(F.col("ng") >= window, lo <= hi).otherwise(
        F.col("rn_min") == 1
    )
    return base.filter(selected).select(
        "doc_id", F.col("j").alias("pos"), F.col("h").alias("fp")
    )


def winnow_overlap_pairs(
    documents: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    window: int = 4,
    min_shared: int = 2,
    max_fp_freq: int = 64,
    parallelism: int | None = None,
) -> DataFrame:
    """Document pairs sharing ≥ ``min_shared`` winnowing fingerprints —
    the MOSS overlap report: a positional near-dup/plagiarism candidate
    generator whose guarantee is LOCAL (any shared run of
    window+n−1 words yields a shared fingerprint) where MinHash's is
    global Jaccard. Fingerprints shared by more than ``max_fp_freq``
    docs are dropped (the shingle/band hot-key cap convention —
    boilerplate fingerprints generate quadratic pairs and no signal).

    Scale: fingerprint build (one per-doc window pass) + one capped
    equi-join on fp — bounded shuffle, measured-linear family shape.
    Emits (doc_a, doc_b, shared_fp) with doc_a < doc_b.
    """
    fp = winnow_fingerprints(
        documents, text_col, id_col, n, window, parallelism
    ).select("doc_id", "fp").distinct()
    freq = fp.groupBy("fp").agg(F.count("*").alias("_f"))
    kept = fp.join(freq.filter(F.col("_f") <= max_fp_freq), "fp")
    a = kept.select(F.col("doc_id").alias("doc_a"), "fp")
    b = kept.select(F.col("doc_id").alias("doc_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("bigint").alias("shared_fp"))
        .filter(F.col("shared_fp") >= min_shared)
    )


def fellegi_sunter_blocks(
    customers: DataFrame,
    block_col: str = "c_nationkey",
    id_col: str = "c_custkey",
) -> DataFrame:
    """Fellegi–Sunter probabilistic record linkage (JASA 1969), the
    agreement-pattern form: within-block candidate pairs are reduced to
    their field-agreement bit pattern, and each pattern gets the classic
    log-likelihood match score Σᵢ ln(mᵢ/uᵢ) / ln((1−mᵢ)/(1−uᵢ)).

    u-probabilities are ESTIMATED EXACTLY from the data as rationals:
    uᵢ = Σ_v nᵥ(nᵥ−1) / N(N−1) (the chance a random pair agrees on
    field i); mᵢ is the pinned prior 9/10. Every weight is therefore
    ln of an exact bigint minus ln of an exact bigint (the
    lm_perplexity/kn_perplexity ln-of-exact-integers precedent), and
    the pattern score is the FIXED-ORDER sum w₁+w₂+w₃ — no float
    aggregation anywhere. Degenerate fields (uᵢ ∈ {0, 1}: all-distinct
    or constant) contribute weight 0 on both engines instead of ln(0).

    Comparison fields over the TPC-H-ish customer table: market
    segment, name's last character, and the exact-cent thousand-dollar
    balance bucket (floor of micro-cents — negative balances floor
    consistently on both engines).

    Scale: blocking bounds the pair join (never all-pairs); the
    agreement patterns collapse pairs into ≤ 2³ rows before any float
    exists; u-stats are three value-bounded groupBys broadcast as one
    row. Output: (g_seg, g_digit, g_bal ∈ {0,1}, n_pairs, score).
    """
    c = customers.select(
        F.col(id_col).alias("id"),
        F.col(block_col).alias("blk"),
        F.col("c_mktsegment").alias("seg"),
        F.substring(F.col("c_name"), -1, 1).alias("digit"),
        F.floor(
            F.round(F.col("c_acctbal").cast("double") * F.lit(100.0)).cast("bigint")
            / F.lit(100000.0)
        )
        .cast("bigint")
        .alias("bal"),
    )
    n_tot = c.agg(F.count("*").cast("bigint").alias("n"))

    def u_num(col: str, alias: str) -> DataFrame:
        return (
            c.groupBy(col)
            .agg(F.count("*").cast("bigint").alias("cnt"))
            .agg(
                F.coalesce(F.sum(F.col("cnt") * (F.col("cnt") - 1)), F.lit(0))
                .cast("bigint")
                .alias(alias)
            )
        )

    stats = (
        n_tot.crossJoin(u_num("seg", "u_seg"))
        .crossJoin(u_num("digit", "u_digit"))
        .crossJoin(u_num("bal", "u_bal"))
        .select(
            (F.col("n") * (F.col("n") - 1)).cast("bigint").alias("u_den"),
            "u_seg",
            "u_digit",
            "u_bal",
        )
    )
    a = c.select(
        F.col("id").alias("ida"), "blk",
        F.col("seg").alias("sega"), F.col("digit").alias("diga"),
        F.col("bal").alias("bala"),
    )
    b = c.select(
        F.col("id").alias("idb"), "blk",
        F.col("seg").alias("segb"), F.col("digit").alias("digb"),
        F.col("bal").alias("balb"),
    )
    patterns = (
        a.join(b, "blk")
        .filter(F.col("ida") < F.col("idb"))
        .select(
            (F.col("sega") == F.col("segb")).cast("int").alias("g_seg"),
            (F.col("diga") == F.col("digb")).cast("int").alias("g_digit"),
            (F.col("bala") == F.col("balb")).cast("int").alias("g_bal"),
        )
        .groupBy("g_seg", "g_digit", "g_bal")
        .agg(F.count("*").cast("bigint").alias("n_pairs"))
    )

    def weight(bit: str, un: str):
        und = F.col("u_den") - F.col(un)
        agree = F.log((F.lit(9) * F.col("u_den")).cast("double")) - F.log(
            (F.lit(10) * F.col(un)).cast("double")
        )
        disagree = F.log(F.col("u_den").cast("double")) - F.log(
            (F.lit(10) * und).cast("double")
        )
        return (
            F.when((F.col(un) == 0) | (und == 0), F.lit(0.0))
            .when(F.col(bit) == 1, agree)
            .otherwise(disagree)
        )

    return patterns.crossJoin(F.broadcast(stats)).select(
        "g_seg",
        "g_digit",
        "g_bal",
        "n_pairs",
        (
            weight("g_seg", "u_seg")
            + weight("g_digit", "u_digit")
            + weight("g_bal", "u_bal")
            + F.lit(0.0)
        ).alias("score"),
    )


def cdc_chunks(
    documents: DataFrame,
    w: int = 3,
    modulus: int = 16,
    min_occurrences: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Content-defined chunking dedup (Muthitacharoen et al. SOSP 2001
    LBFS; the Rabin-boundary idea behind FastCDC/restic/borg): a chunk
    boundary falls AFTER word i wherever the rolling ``w``-gram hash ≡ 0
    (mod ``modulus``) — so chunk boundaries move WITH the content, and
    an insertion early in a document re-chunks only its own
    neighborhood instead of shifting every downstream fixed-size chunk.
    The pure content-defined rule (no min/max chunk clamp) keeps the
    chunk id a relational exclusive-cumsum — no recursion, no state.

    Expected chunk length is ``modulus`` words; hashes are the portable
    salted-md5 family (_h64), reproducible verbatim in the oracle.
    Output: duplicated chunks across the corpus — (chunk_hash, n_occ,
    n_docs, n_words) for chunks seen ≥ ``min_occurrences`` times.

    Scale: ONE doc-keyed exchange serves the gram window, the boundary
    cumsum, and the per-chunk groupBy (each extends the same hash
    prefix); the global chunk-hash groupBy is the only data-sized
    shuffle and is map-side combinable. All-integer decisions.
    """
    words = documents.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(normalize_text(F.col(text_col)), " ")).alias(
            "pos", "word"
        ),
    ).filter(F.col("word") != "")
    wd = Window.partitionBy("doc_id").orderBy("pos")
    gram = F.when(
        F.col("pos") >= w - 1,
        F.concat_ws(
            " ", *[F.lag("word", w - 1 - j).over(wd) for j in range(w - 1)], F.col("word")
        ),
    )
    b = words.select(
        "doc_id",
        "pos",
        "word",
        F.when(
            (F.col("pos") >= w - 1)
            & (F.pmod(_h64(F.concat(F.lit("cdc:"), gram), 0), F.lit(int(modulus))) == 0),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("boundary"),
    )
    wexcl = wd.rowsBetween(Window.unboundedPreceding, -1)
    cid = b.select(
        "doc_id",
        "pos",
        "word",
        F.coalesce(F.sum("boundary").over(wexcl), F.lit(0))
        .cast("bigint")
        .alias("chunk_idx"),
    )
    chunks = cid.groupBy("doc_id", "chunk_idx").agg(
        F.count("*").cast("bigint").alias("n_words"),
        F.md5(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "word"))),
                    lambda s: s["word"],
                ),
                " ",
            )
        ).alias("chunk_hash"),
    )
    return (
        chunks.groupBy("chunk_hash")
        .agg(
            F.count("*").cast("bigint").alias("n_occ"),
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.max("n_words").cast("bigint").alias("n_words"),
        )
        .filter(F.col("n_occ") >= min_occurrences)
    )


def minhash_accuracy_audit(
    documents: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 8,
    max_doc_id: int = 12,
) -> DataFrame:
    """Sketch-accuracy audit: estimated MinHash Jaccard vs EXACT shingle
    Jaccard, per pair, with the error carried as exact integers — the
    "measure, don't model" evidence for the dedup family's sketch (the
    est/exact gap is a binomial(num_hashes, J) sample; this operator
    makes that error observable instead of assumed).

    Contract: the doc set is id-bounded (``doc_id < max_doc_id``, the
    dtw_pairs k-bounded convention) because exact Jaccard needs the
    all-pairs shingle join the sketch exists to avoid — the audit runs
    on a slice, the sketch runs on the corpus.

    Exactness: est_matches, intersection and union sizes are exact
    bigints; est_jaccard = est/num_hashes is a DYADIC division (exact
    for power-of-two num_hashes); exact_jaccard and abs_err are single
    IEEE divisions of exact bigint products — |est·union − H·inter| /
    (H·union) — nothing float-accumulates.

    Output: (doc_a, doc_b, est_matches, inter, uni, est_jaccard,
    exact_jaccard, abs_err).
    """
    docs = documents.filter(F.col(id_col).cast("bigint") < max_doc_id)
    sh = shingle_table(docs, text_col, id_col, n)
    sizes = sh.groupBy("doc_id").agg(F.count("*").cast("bigint").alias("sz"))
    sig = minhash_signatures(docs, text_col, id_col, n, num_hashes)
    a = sig.join(sizes, "doc_id").select(
        F.col("doc_id").cast("bigint").alias("doc_a"),
        F.col("sig").alias("sig_a"),
        F.col("sz").alias("sz_a"),
    )
    b = sig.join(sizes, "doc_id").select(
        F.col("doc_id").cast("bigint").alias("doc_b"),
        F.col("sig").alias("sig_b"),
        F.col("sz").alias("sz_b"),
    )
    pairs = a.crossJoin(F.broadcast(b)).filter(F.col("doc_a") < F.col("doc_b"))
    est = F.aggregate(
        F.zip_with(
            F.col("sig_a"),
            F.col("sig_b"),
            lambda x, y: F.when(x == y, F.lit(1)).otherwise(F.lit(0)),
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    ).cast("bigint")
    sha = sh.select(F.col("doc_id").cast("bigint").alias("doc_a"), "shingle")
    shb = sh.select(F.col("doc_id").cast("bigint").alias("doc_b"), "shingle")
    inter = (
        sha.join(shb, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("bigint").alias("inter"))
    )
    out = (
        pairs.select("doc_a", "doc_b", est.alias("est_matches"), "sz_a", "sz_b")
        .join(inter, ["doc_a", "doc_b"], "left")
        .select(
            "doc_a",
            "doc_b",
            "est_matches",
            F.coalesce(F.col("inter"), F.lit(0)).cast("bigint").alias("inter"),
            (F.col("sz_a") + F.col("sz_b") - F.coalesce(F.col("inter"), F.lit(0)))
            .cast("bigint")
            .alias("uni"),
        )
    )
    h = F.lit(int(num_hashes))
    return out.select(
        "doc_a",
        "doc_b",
        "est_matches",
        "inter",
        "uni",
        (
            F.col("est_matches").cast("double") / F.lit(float(num_hashes))
            + F.lit(0.0)
        ).alias("est_jaccard"),
        (
            F.col("inter").cast("double")
            / F.nullif(F.col("uni").cast("double"), F.lit(0.0))
            + F.lit(0.0)
        ).alias("exact_jaccard"),
        (
            F.abs(F.col("est_matches") * F.col("uni") - h * F.col("inter")).cast(
                "double"
            )
            / F.nullif((h * F.col("uni")).cast("double"), F.lit(0.0))
            + F.lit(0.0)
        ).alias("abs_err"),
    )


def canonical_docs(
    documents: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chars_col: str = "n_chars",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Canonical-representative selection per near-dup group — the
    "keep the best copy" step that turns :func:`dedup_groups` output
    into an actual curation decision (RefinedWeb/CCNet keep the
    longest/cleanest member of each fuzzy-dup cluster, not the
    arbitrary component minimum).

    Per multi-member component: canonical = the member with the MOST
    characters, ties to the smallest doc id (total integer order —
    deterministic cross-engine). Output one row per group:
    ``(group_id, canonical_id, n_members, chars_kept, total_chars,
    n_dropped)`` — all exact integers, no float anywhere.

    Scale: rides the dedup_groups component table (bounded LSH band
    shuffles + O(log n) star rounds); the argmax is ONE component-keyed
    WindowGroupLimit top-1 and the stats one combinable groupBy on the
    SAME key — the two reuse one exchange (the ClusteredDistribution
    prefix rule).
    """
    from pyspark.sql.window import Window

    g = dedup_groups(
        documents,
        text_col=text_col,
        id_col=id_col,
        n=n,
        num_hashes=num_hashes,
        bands=bands,
        threshold=threshold,
    )
    memb = g.select("doc_id", "keep_id").join(
        documents.select(
            F.col(id_col).alias("doc_id"),
            F.col(chars_col).cast("bigint").alias("nc"),
        ),
        "doc_id",
    )
    w = Window.partitionBy("keep_id").orderBy(
        F.col("nc").desc(), F.col("doc_id").asc()
    )
    best = (
        memb.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("keep_id").alias("group_id"),
            F.col("doc_id").alias("canonical_id"),
            F.col("nc").alias("chars_kept"),
        )
    )
    stats = memb.groupBy("keep_id").agg(
        F.count("*").cast("bigint").alias("n_members"),
        F.sum("nc").cast("bigint").alias("total_chars"),
    )
    return (
        best.join(stats, best.group_id == stats.keep_id)
        .filter(F.col("n_members") >= 2)
        .select(
            F.col("group_id").cast("bigint").alias("group_id"),
            F.col("canonical_id").cast("bigint").alias("canonical_id"),
            "n_members",
            "chars_kept",
            "total_chars",
            (F.col("n_members") - F.lit(1)).cast("bigint").alias("n_dropped"),
        )
    )


def containment_pairs(
    documents: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold_milli: int = 500,
    max_shingle_freq: int = 64,
    parallelism: int | None = None,
) -> DataFrame:
    """ASYMMETRIC containment detection (Broder 1997, "On the
    resemblance and containment of documents" — the OTHER statistic of
    the paper that gave us shingling): ``c(A,B) = |S(A)∩S(B)| / |S(A)|``
    over word-``n``-gram shingle sets. Quote inclusion, boilerplate
    wrapping, and excerpt reposts have LOW Jaccard but HIGH one-sided
    containment — :func:`ngram_jaccard_pairs` cannot see them.

    Integer decision rule: a pair is emitted when EITHER direction's
    containment reaches ``threshold_milli``/1000, tested as the
    cross-multiplied integer ``1000·inter ≥ thr·n_small`` (no float
    ratio ever gates). Both directions and the shingle counts are
    emitted as exact integers; the two containments are fixed-shape
    single divisions for the reader.

    Scale: identical plan to the Jaccard generator — ONE shingle
    equi-join bounded by ``max_shingle_freq``; the per-document
    shingle-size table is CORPUS-sized (one row per doc — never a
    broadcast, the cluster_silhouette rule), so it reaches the pruned
    pair table through plain co-keyed hash joins on the doc_a/doc_b
    keys the pair table already carries. Same linear-measured shuffle
    family.
    """
    sh = pin(shingle_table(_spread(documents, parallelism), text_col, id_col, n))
    sizes = sh.groupBy("doc_id").agg(F.count("*").cast("bigint").alias("n_sh"))
    freq = sh.groupBy("shingle").agg(F.count("*").alias("freq"))
    sh_f = sh.join(freq.filter(F.col("freq") <= max_shingle_freq), "shingle")
    a = sh_f.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh_f.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("bigint").alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    joined = inter.join(sa, "doc_a").join(sb, "doc_b")
    thr = F.lit(int(threshold_milli))
    keep = (
        (F.lit(1000) * F.col("inter") >= thr * F.col("na"))
        | (F.lit(1000) * F.col("inter") >= thr * F.col("nb"))
    )
    return joined.filter(keep).select(
        "doc_a", "doc_b", "inter", "na", "nb",
        (F.col("inter").cast("double") / F.col("na").cast("double")
         + F.lit(0.0)).alias("containment_a"),
        (F.col("inter").cast("double") / F.col("nb").cast("double")
         + F.lit(0.0)).alias("containment_b"),
    )
