"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Scale design (the point of these, vs. the naive O(n²) all-pairs):

- exact: hash-shuffle groupBy on the dedup key — one shuffle, AQE
  handles skew.
- MinHash+LSH: per-row signature (narrow), explode to (band, hash)
  buckets, self-join *within buckets only* — candidate generation cost
  is Σ|bucket|² instead of n²; verification runs only on candidates.
- SimHash: 64-bit fingerprint per row (narrow), exact-match dedup is a
  groupBy; near-match joins on rotated prefix blocks.
- embedding near-dup: the default is a fully distributed block
  Gram-matrix matmul (exact, nothing collected to the driver, per-task
  tiles bounded by the block size); LSH-style hyperplane bucketing
  (see similarity.py) bounds the cost further when approximate recall
  is acceptable, and a broadcast variant exists for explicitly-small
  sides.

All hashes derive from md5 (deterministic across runs/engines — lets a
SQL oracle reproduce results exactly), arithmetic stays in Catalyst.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ._util import rebalance, sql_over, tracked_persist
from .text import shingle_rows, tokens, word_shingles

# ngram_jaccard_pairs(prefix_filter="auto") turns the PPJoin prefix
# filter on when the naive inverted join's pair mass Σ df·(df−1)/2
# exceeds this multiple of the posting count — scale-free, calibrated
# on the measured corpora (see the operator docstring): flat sf1
# ratio ≈36 and flat sf10 ≈76 (naive wins both — prefix-ON is 6.6×
# slower at sf1 and disk-death at sf10), zipf ≈220 (prefix wins 56×).
_PREFIX_AUTO_MASS_RATIO = 100.0

# Session-scoped memo of prefix_filter="auto" decisions, keyed on the
# SEMANTIC hash of the inverted index's analyzed logical plan (r16,
# VERDICT r15 item 3): the decision is a pure function of the input
# lineage (the plan embeds text_col/id_col/shingle_k via shingle_rows),
# and BOTH candidate paths are exact, so reusing a decision can never
# change results — it only skips re-running the eager decision
# aggregate for an input whose stats this session already measured.
# At 100 TB that is one full column-pruned pass per repeated input
# saved purely to re-choose a plan already chosen.  Keyed per
# application id so a new session (new data possible at the same
# lineage) re-measures; a semantic-hash collision could only ever pick
# the other EXACT plan, never a wrong result.
_PREFIX_AUTO_MEMO: dict[tuple[str, int], bool] = {}


def _prefix_memo_key(inv: DataFrame) -> tuple[str, int] | None:
    try:
        return (
            inv.sparkSession.sparkContext.applicationId,
            inv._jdf.queryExecution().analyzed().semanticHash(),
        )
    except Exception:  # noqa: BLE001 — non-JVM-backed plan: no memo
        return None


def prefix_auto_decision(inv: DataFrame, memo: bool = True) -> bool:
    """The ``prefix_filter="auto"`` rule over an (id, gram) inverted
    index: ON iff the naive inverted join's candidate-pair mass
    Σ df·(df−1)/2 exceeds ``_PREFIX_AUTO_MASS_RATIO`` × postings.
    One groupBy + one global aggregate — a single scan of ``inv``
    (persist it first when the caller reuses it).  ``memo=True``
    consults/fills the per-session decision memo (see
    ``_PREFIX_AUTO_MEMO``); pass False to force a fresh measurement."""
    key = _prefix_memo_key(inv)
    if memo and key is not None and key in _PREFIX_AUTO_MEMO:
        return _PREFIX_AUTO_MEMO[key]
    stats = (
        inv.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("__gf"))
        .agg(
            F.sum(F.col("__gf") * (F.col("__gf") - 1) / 2).alias("mass"),
            F.sum("__gf").alias("postings"),
        )
        .head()
    )
    decision = bool(
        (stats["mass"] or 0.0)
        > _PREFIX_AUTO_MASS_RATIO * (stats["postings"] or 1)
    )
    if key is not None:
        _PREFIX_AUTO_MEMO[key] = decision
    return decision

# prime just under 2^29: with 32-bit base hashes, a*h + b stays < 2^61 —
# no int64 overflow in Spark OR in a BIGINT-only SQL oracle
_P = 536870909


def _perm_params(num_perm: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) params per permutation (seeded LCG — stable
    across sessions so signatures are reproducible)."""
    params = []
    state = 42
    for _ in range(num_perm):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = state % (_P - 1) + 1
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = state % _P
        params.append((a, b))
    return params


def _md5_hash32(s: Column) -> Column:
    """Deterministic 32-bit integer hash of a string via md5 — matches
    ``('0x' || substr(md5(x),1,8))::BIGINT`` in ANSI-SQL oracles."""
    return F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")


def _md5_hash64(s: Column) -> Column:
    """Deterministic 60-bit integer hash of a string via md5 — matches
    ``('0x' || substr(md5(x),1,15))::BIGINT`` in ANSI-SQL oracles."""
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")


def dedup_exact(df: DataFrame, subset: list[str] | None = None) -> DataFrame:
    """Exact deduplication — keep one row per distinct key.

    ``dropDuplicates`` compiles to a hash aggregate: map-side partial
    dedup, one shuffle on the key, AQE coalesces output partitions.
    """
    return df.dropDuplicates(subset) if subset else df.dropDuplicates()


def dedup_incremental(
    batch: DataFrame,
    seen: DataFrame,
    key: str = "fingerprint",
) -> DataFrame:
    """Incremental dedup: rows of ``batch`` whose ``key`` is NOT in the
    ``seen`` set (e.g. fingerprints of previously ingested corpus).

    A left-anti join — at 100 TB, with ``seen`` bucketed on ``key`` and
    the batch fingerprinted with :func:`pql_spark.operators.text.
    doc_fingerprint`, each incremental ingest touches only the new
    partition plus a co-located probe of the store; re-ingesting the
    full corpus is never needed.
    """
    return batch.join(seen.select(key).distinct(), key, "left_anti")


def contamination_report(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    gram_n: int = 13,
    broadcast: bool = True,
) -> DataFrame:
    """Per-document benchmark contamination: (id, n_hits) where n_hits is
    the number of DISTINCT ``gram_n``-word n-grams the document shares
    with the benchmark set (GPT-3 appendix C–style train/test overlap).

    Scale shape: the benchmark gram set is tiny next to a 100 TB corpus —
    distinct-reduce it and **broadcast** it, so the corpus side is one
    narrow explode + broadcast hash semi-probe + per-doc count, with the
    only shuffle keyed by doc id for the count.  Set ``broadcast=False``
    to fall back to a shuffle join when the benchmark itself is huge.
    """
    bench = (
        shingle_rows(benchmark, text_col, id_col, gram_n)
        .select("gram")
        .distinct()
    )
    if broadcast:
        bench = F.broadcast(bench)
    grams = shingle_rows(corpus, text_col, id_col, gram_n)
    return (
        grams.join(bench, "gram", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    gram_n: int = 13,
    min_hits: int = 1,
    broadcast: bool = True,
) -> DataFrame:
    """Drop corpus documents sharing ≥ ``min_hits`` distinct
    ``gram_n``-word n-grams with ``benchmark`` (dataset decontamination —
    the standard pre-training hygiene step so eval benchmarks don't leak
    into training data).

    ``corpus`` minus the :func:`contamination_report` ids via a left-anti
    join on the doc id.  The contaminated-id set is small (hits only), so
    AQE turns the anti-join into a broadcast probe — the full corpus is
    never shuffled.
    """
    hits = contamination_report(
        corpus, benchmark, text_col, id_col, gram_n, broadcast
    )
    flagged = hits.filter(F.col("n_hits") >= min_hits).select(id_col)
    return corpus.join(flagged, id_col, "left_anti")


def kmv_distinct(
    df: DataFrame, col: str, k: int = 256, id_suffix: str = ""
) -> DataFrame:
    """K-Minimum-Values distinct-count sketch.

    Keeps the k smallest md5-derived hash values of the column — a
    mergeable, fixed-size sketch whose estimator is
    ``(k-1) * 2^32 / h_(k)`` (Bar-Yossef et al.).  Unlike HLL registers,
    the sketch is a DETERMINISTIC function of the value set, so a SQL
    oracle reproduces the estimate bit-for-bit — an exactly-testable
    approximate-distinct operator.

    Plan: distinct on the hashed value (map-side partial dedup) then
    top-k ascending via ``TakeOrderedAndProject`` — no total sort, one
    shuffle, O(k) result.  Returns one row: (estimate double, kth_min
    long, n_sketch int).
    """
    hashed = df.select(
        _md5_hash32(F.col(col).cast("string")).alias("h")
    ).distinct()
    kmin = hashed.orderBy(F.col("h").asc()).limit(k)
    cnt = F.count(F.lit(1))
    return kmin.agg(
        # sketch not full ⇒ it holds every distinct value: exact count
        F.when(cnt < k, cnt.cast("double"))
        .otherwise(
            F.round(
                (F.lit(float(k - 1)) * F.lit(float(1 << 32))) / F.max("h"),
                4,
            )
        )
        .alias("estimate"),
        F.max("h").alias("kth_min"),
        cnt.cast("int").alias("n_sketch"),
    )


def minhash_signature(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    shingle_k: int = 5,
    impl: str = "pandas",
    include_shingles: bool = True,
) -> DataFrame:
    """Per-document MinHash signature (array<long>, length num_perm) over
    distinct k-word shingles.  Narrow transform — no shuffle.
    ``include_shingles=False`` drops the shingle arrays from the output
    (skips their Arrow round-trip when the caller re-derives them).

    ``impl="agg"`` (default): shingles are built as exploded ROWS
    (:func:`pql_spark.operators.text.shingle_rows` — avoids the
    HOF-lambda re-evaluation trap), each row is md5-hashed once, and the
    signature is one groupBy(id) with ``num_perm`` ``min((a·h+b) mod P)``
    aggregates — all JVM, map-side partial aggregation, no Python
    workers at all.  Does not support ``include_shingles``.

    ``impl="pandas"``: one Arrow-batched kernel does shingling + md5 +
    the permutation mins.  Shingling runs INSIDE the kernel (a Python
    twin of :func:`pql_spark.operators.text.word_shingles` — lower,
    collapse whitespace, split, sliding k-gram, first-occurrence
    distinct) so Arrow ships ONE text string per document instead of
    ~n_words shingle strings, and md5 runs once per DISTINCT shingle in
    the batch with the permutation mins as a single
    ``minimum.reduceat`` — measured ~4× over Catalyst-side shingling +
    a per-doc loop.  This is the streaming path (narrow, no aggregate).
    md5 over UTF-8 bytes is engine-independent, so all three impls are
    bit-identical (``impl="catalyst"`` is the pure-expression reference
    implementation).
    """
    params = _perm_params(num_perm)

    if impl == "agg":
        if include_shingles:
            raise ValueError("impl='agg' does not return shingle arrays")
        rows = shingle_rows(df, text_col, id_col, shingle_k)
        hashed = rows.select(
            F.col(id_col), _md5_hash32(F.col("gram")).alias("h")
        )
        mins = [
            F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(_P)).alias(
                f"m{i}"
            )
            for i, (a, b) in enumerate(params)
        ]
        sig = hashed.groupBy(id_col).agg(*mins)
        return sig.select(
            F.col(id_col),
            F.array(*[f"m{i}" for i in range(num_perm)]).alias("minhash"),
        )

    sh = word_shingles(F.col(text_col), shingle_k)
    shingled = df.select(F.col(id_col), sh.alias("shingles"))

    if impl == "catalyst":
        hashed = F.transform(F.col("shingles"), _md5_hash32)
        mins = F.transform(
            F.reduce(
                hashed,
                F.array(
                    *[
                        F.struct(
                            F.lit(_P).cast("long").alias("m"),
                            F.lit(a).cast("long").alias("a"),
                            F.lit(b).cast("long").alias("b"),
                        )
                        for a, b in params
                    ]
                ),
                lambda acc, h: F.transform(
                    acc,
                    lambda s: F.struct(
                        F.least(s.m, (s.a * h + s.b) % F.lit(_P)).alias("m"),
                        s.a.alias("a"),
                        s.b.alias("b"),
                    ),
                ),
            ),
            lambda s: s.m,
        )
        out = shingled.select(
            F.col(id_col), mins.alias("minhash"), F.col("shingles")
        )
        return out if include_shingles else out.drop("shingles")
    if impl != "pandas":
        raise ValueError(f"unknown impl {impl!r}")

    import hashlib

    import numpy as np
    import pandas as pd

    from .text import py_tokens

    def _py_shingles(text: str) -> list:
        # Python twin of word_shingles(): values match the Catalyst
        # expression byte-for-byte (verified by the impl-equivalence
        # tests), so impls stay interchangeable.  py_tokens uses the
        # Java-\s ASCII whitespace class — Python \s also matches
        # U+00A0/U+2028/U+1680… and silently diverged (ADVICE r7).
        toks = py_tokens(text)
        if len(toks) <= shingle_k:
            return [" ".join(toks)]
        return list(
            dict.fromkeys(
                " ".join(toks[i : i + shingle_k])
                for i in range(len(toks) - shingle_k + 1)
            )
        )

    def kernel(batches):
        # One vectorized pass per Arrow batch instead of per-document
        # numpy calls: md5 runs once per DISTINCT shingle in the batch,
        # then each permutation is a (U,)-sized mul/add/mod + gather +
        # minimum.reduceat over small REUSED buffers.  The buffer reuse
        # matters: a single (num_perm × total) matrix formulation page-
        # faults ~50 MB of fresh allocations per batch (measured 0.7 s
        # vs 0.03 s for this loop on a 1k-doc batch) and would grow
        # unboundedly with Arrow batch size; these buffers are O(batch
        # shingles), not O(batch shingles × num_perm).
        import itertools

        for pdf in batches:
            shs = [_py_shingles(t) for t in pdf[text_col]]
            n = len(shs)
            lens = np.fromiter((len(s) for s in shs), np.int64, count=n)
            full = np.full(num_perm, _P, dtype=np.int64)  # empty-doc sig
            total = int(lens.sum())
            if total == 0:
                sigs = [full] * n
            else:
                flat = np.asarray(
                    list(itertools.chain.from_iterable(shs)), dtype=object
                )
                codes, uniques = pd.factorize(flat)
                hu = np.fromiter(
                    (
                        int(
                            hashlib.md5(s.encode("utf-8")).hexdigest()[:8],
                            16,
                        )
                        for s in uniques
                    ),
                    np.int64,
                    count=len(uniques),
                )
                nonempty = np.flatnonzero(lens > 0)
                starts = (np.cumsum(lens) - lens)[nonempty]
                red = np.empty((len(nonempty), num_perm), dtype=np.int64)
                mu = np.empty(len(hu), dtype=np.int64)
                gv = np.empty(total, dtype=np.int64)
                for p, (a, b) in enumerate(params):
                    # a < P, h < 2^32 → a·h < 2^62: no int64 overflow
                    np.multiply(hu, a, out=mu)
                    np.add(mu, b, out=mu)
                    np.mod(mu, _P, out=mu)
                    np.take(mu, codes, out=gv)
                    red[:, p] = np.minimum.reduceat(gv, starts)
                sigs = [full] * n
                for j, doc in enumerate(nonempty):
                    sigs[doc] = red[j]
            out = {id_col: pdf[id_col], "minhash": sigs}
            if include_shingles:
                out["shingles"] = shs
            yield pd.DataFrame(out)

    schema = f"{id_col} long, minhash array<long>"
    if include_shingles:
        schema += ", shingles array<string>"
    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(
        kernel, schema
    )


def _bucket_pairs(buckets: DataFrame, cap: int | None) -> DataFrame:
    """Candidate (id_a, id_b) pairs emitted map-side from bucket posting
    lists (column ``ids``: sorted array of doc ids).

    ``cap=None``: every bucket contributes all |b|·(|b|-1)/2 pairs with
    id_a < id_b.  With a cap, oversized buckets fall back to a STAR
    (min-id paired with each other member): O(|b|) pairs that keep the
    cluster connected for downstream grouping without the quadratic
    blow-up a boilerplate-heavy corpus hits at scale (one 10⁶-doc
    bucket = 5·10¹¹ pairs materialized in a single task).  Star pairs
    are still exact-verified by the caller, so precision is unchanged;
    only pair-recall *inside* oversized buckets drops — cluster
    membership does not.
    """
    ids = F.col("ids")
    all_pairs = F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + 2, F.size(ids)),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    emit = all_pairs
    if cap is not None:
        star = F.transform(
            F.slice(ids, 2, F.size(ids) - 1),
            lambda y: F.struct(
                F.element_at(ids, 1).alias("id_a"), y.alias("id_b")
            ),
        )
        emit = F.when(F.size(ids) <= F.lit(cap), all_pairs).otherwise(star)
    return buckets.select(F.explode(emit).alias("p")).select(
        "p.id_a", "p.id_b"
    )


def _verify_jaccard(
    sh: DataFrame, cand: DataFrame, id_col: str, threshold: float,
    sort: bool = True,
) -> DataFrame:
    """Exact shingle-set Jaccard over candidate pairs, rows-based.

    |A∩B| is counted by joining the pair list back to the (id, gram)
    rows — no shingle ARRAYS are ever shuffled, and zero-intersection
    candidates simply never reach the aggregate (they can't pass any
    threshold > 0).
    """
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    inter = (
        sh.select(F.col(id_col).alias("id_a"), F.col("gram"))
        .join(cand, "id_a")
        .join(
            sh.select(F.col(id_col).alias("id_b"), F.col("gram")),
            ["id_b", "gram"],
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    jac = F.col("n_inter") / (
        F.col("sa.n") + F.col("sb.n") - F.col("n_inter")
    )
    out = (
        inter.join(sa, F.col("id_a") == F.col(f"sa.{id_col}"))
        .join(sb, F.col("id_b") == F.col(f"sb.{id_col}"))
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )
    return out.orderBy("id_a", "id_b") if sort else out


def band_signature(
    sig: DataFrame, id_col: str, num_perm: int, bands: int
) -> DataFrame:
    """Explode a ``minhash`` signature column into (id, band, bhash)
    rows — md5 over each band's slice, the shared LSH banding used by
    the batch pair generator and the streaming near-dup operator
    (identical hashes, so their buckets agree).  Narrow (no shuffle).

    Driver-cost note: the per-band struct array is emitted as ONE SQL
    string (``F.expr``) — the Column-API construction of the same tree
    cost ~0.5 s of py4j round trips per call (r15, measured), paid by
    every minhash/incremental/curation gate; the parsed Catalyst tree
    is identical."""
    return sig.select(
        F.col(id_col),
        F.expr(
            f"explode(array({_band_entries_sql(num_perm, bands)}))"
        ).alias("bk"),
    ).select(id_col, "bk.band", "bk.bhash")


def _band_entries_sql(num_perm: int, bands: int) -> str:
    """The banding struct array as SQL text — shared by
    :func:`band_signature` and the one-parse :func:`minhash_dup_pairs`
    SQL so their band hashes agree by construction."""
    rows = num_perm // bands
    return ", ".join(
        f"named_struct('band', {i}, 'bhash', md5(concat_ws(',', "
        f"CAST(slice(minhash, {i * rows + 1}, {rows}) "
        f"AS array<string>))))"
        for i in range(bands)
    )


def minhash_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    threshold: float = 0.8,
    max_bucket: int | None = None,
    sort_pairs: bool = True,
) -> DataFrame:
    """Near-duplicate pairs via MinHash + banded LSH.

    ``sort_pairs=False`` skips the final global orderBy — for
    consumers that only feed the pairs into connected components /
    drop-lists, where the sort is a wasted full exchange+sort of the
    pair set at any scale (guide §2.4).

    signature → ``bands`` bands of ``num_perm/bands`` rows; docs sharing
    any band hash become candidates; candidates are verified with exact
    shingle-set Jaccard ≥ threshold.  Returns (id_a, id_b, jaccard) with
    id_a < id_b.

    Signatures come from the NARROW Arrow kernel (``impl="pandas"`` —
    zero shuffles, md5 once per distinct shingle per batch; measured 2×
    the all-JVM ``agg`` impl, which pays a full (id, gram) shuffle).
    Candidate generation is then ONE shuffle — groupBy(band, bhash) on
    ~40 bytes/row with pairs emitted map-side from each bucket's sorted
    id list (vs. a two-sided self-join, which shuffles the banded rows
    twice and sort-merges).  Exact verify is rows-based
    (:func:`_verify_jaccard`).

    ``max_bucket`` bounds the quadratic pair emission for oversized
    buckets (typically exact-dup / boilerplate clusters, which a band
    hash captures wholesale): those fall back to star pairs — see
    :func:`_bucket_pairs`.  Default None keeps exact LSH semantics so
    SQL oracles can mirror candidate generation verbatim.  Note the
    per-bucket id LIST still materializes during the aggregate (8 bytes
    per doc — fine to ~10⁷ dups per bucket); corpora beyond that should
    run :func:`dedup_exact` first, which removes exact-dup mega-buckets
    at the source.
    """
    df = rebalance(df)
    sig = minhash_signature(
        df, text_col, id_col, num_perm, shingle_k,
        impl="pandas", include_shingles=False,
    )
    sh = shingle_rows(df, text_col, id_col, shingle_k)
    if max_bucket is not None:
        # capped mode keeps the Column build (the star fallback's
        # conditional emit) — the hot path below is the default
        banded = band_signature(sig, id_col, num_perm, bands)
        buckets = (
            banded.groupBy("band", "bhash")
            .agg(F.sort_array(F.collect_list(id_col)).alias("ids"))
            .filter(F.size("ids") >= 2)
        )
        cand = _bucket_pairs(buckets, max_bucket).dropDuplicates(
            ["id_a", "id_b"]
        )
        return _verify_jaccard(sh, cand, id_col, threshold, sort=sort_pairs)
    # One-parse SQL twin of the band → bucket → pair → verify chain
    # (r16, guide §4 driver-side): the Column build of these ~15 ops
    # paid ~0.5 s of py4j round trips + per-op eager analysis on every
    # call (measured; it is the curation pipeline's largest single
    # driver site).  The SQL text parses to the same join/aggregate
    # tree — band key on (id, band, bhash) ONLY (the heavy shingle
    # arrays are joined back after pair-dedup, so the candidate
    # shuffle moves ~40 bytes/row), pairs emitted map-side from each
    # bucket's sorted id list, rows-based exact verify.  Equivalence
    # vs the Column path is pinned by tests/test_dedup.py and every
    # consuming gate's DuckDB oracle.
    idq = f"`{id_col}`"
    order = " ORDER BY id_a, id_b" if sort_pairs else ""
    return sql_over(
        {"sig": sig, "sh": sh},
        "WITH banded AS ("
        f" SELECT {idq}, bk.band AS band, bk.bhash AS bhash FROM"
        f" (SELECT {idq},"
        f" explode(array({_band_entries_sql(num_perm, bands)})) AS bk"
        " FROM {sig})"
        "), buckets AS ("
        " SELECT ids FROM ("
        f"  SELECT sort_array(collect_list({idq})) AS ids"
        "  FROM banded GROUP BY band, bhash)"
        " WHERE size(ids) >= 2"
        "), cand AS ("
        " SELECT DISTINCT p.id_a AS id_a, p.id_b AS id_b FROM ("
        "  SELECT explode(flatten(transform(ids, (x, i) ->"
        "   transform(slice(ids, i + 2, size(ids)),"
        "    y -> named_struct('id_a', x, 'id_b', y))))) AS p"
        "  FROM buckets)"
        "), sizes AS ("
        f" SELECT {idq} AS __vid, count(1) AS n FROM {{sh}}"
        f" GROUP BY {idq}"
        "), inter AS ("
        " SELECT id_a, id_b, count(1) AS n_inter FROM"
        f"  (SELECT {idq} AS id_a, gram FROM {{sh}})"
        "  JOIN cand USING (id_a)"
        f"  JOIN (SELECT {idq} AS id_b, gram FROM {{sh}})"
        "  USING (id_b, gram)"
        " GROUP BY id_a, id_b)"
        " SELECT id_a, id_b, jaccard FROM ("
        "  SELECT id_a, id_b,"
        "   n_inter / (sa.n + sb.n - n_inter) AS jaccard"
        "  FROM inter JOIN sizes sa ON id_a = sa.__vid"
        "  JOIN sizes sb ON id_b = sb.__vid)"
        f" WHERE jaccard >= {float(threshold)!r}D{order}",
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.5,
    max_posting: int | None = None,
    prefix_filter: bool | str = "auto",
) -> DataFrame:
    """Exact n-gram Jaccard similar pairs via an inverted index.

    Explode distinct shingles → group the posting list per gram → emit
    id pairs map-side (only docs sharing ≥1 shingle ever meet — the
    inverted-index trick that bounds the join away from n²) → |A∩B| by
    groupBy pair → Jaccard from per-doc sizes.  Fully SQL-expressible,
    so it doubles as the oracle-checkable twin of the MinHash path.

    ``prefix_filter=True``: PPJoin-style LOSSLESS candidate pruning
    (Bayardo et al. 2007 "Scaling Up All Pairs", Xiao et al. 2008
    PPJoin).  Grams get a global total order by ascending document
    frequency; each doc indexes only its PREFIX — the first
    ``n − ceil(t·n) + 1`` grams in that order — and any pair with
    Jaccard ≥ t provably shares a prefix gram, so candidates come from
    prefix postings only, then get the rows-based exact verify
    (results identical to the default path).  The decision rule,
    measured on both sides (local[32], best of 2, identical outputs):

    * ON wins on Zipfian boilerplate — text where a few hot phrases
      appear in a large fraction of docs, so their grams would emit
      d(d-1)/2 pairs each but sort LAST and drop out of every prefix.
      On ``tools/gen_scale.py zipf`` (30 k docs, top template in 26 %
      of docs → 6 grams × 7 861 postings): **3.55 s ON vs 198.6 s
      OFF**, identical 750 pairs.  Real web/common-crawl text is this
      shape.
    * OFF wins when gram frequencies are only MILDLY hot — nothing
      prunes enough to pay for the verify join-back, which costs more
      than the default's count-only partial aggregate: **26.8 s OFF →
      177 s ON** on the synthetic sf1 gate corpus (mean df 73), and at
      100× of it (sf10, 500 k docs, pair mass 2.0 B) OFF still wins
      decisively — measured r13: OFF 604 s, while ON generated 85.8 M
      distinct candidates whose rows-based verify shuffles ~4.5 B
      narrow rows (~100 GB) and FILLED THE DISK on local[32].  The
      distributed cost model is not the in-process one: a single-node
      PPJoin (the DuckDB scale twin) verifies those same candidates
      shuffle-free in 154 s, but Spark's verify pays the exchange, so
      its crossover sits much higher.

    ``prefix_filter="auto"`` (the default since r13) therefore
    MEASURES instead of assuming: one cheap aggregate over the
    inverted index computes the naive pair mass Σ df·(df−1)/2 and the
    posting count P, and turns the filter on iff mass > 100·P.  The
    ratio is scale-free and the threshold is calibrated on the
    measured corpora: flat sf1 ratio ≈ 36 and flat sf10 ratio ≈ 76
    (OFF correctly wins at both — ON is 6.6× slower at sf1 and
    disk-death at sf10), zipf ratio ≈ 220 (ON wins 3.55 s vs
    198.6 s).  Both paths are exact, so the choice never changes
    results — only the plan.

    NOTE (ADVICE r13): ``"auto"`` makes this builder EAGER — the
    decision scan (shingle + persist + one global aggregate) runs as
    a Spark job at CALL time, and the persisted inverted index lives
    until the returned plan's consumer (or ``unpersist_tracked``)
    releases it.  Two escapes keep the lazy contract where it
    matters: a driver-local input (``df.isLocal()`` — createDataFrame
    test corpora) skips the scan and resolves to the naive path,
    which is always right at that scale; and passing
    ``prefix_filter=True/False`` explicitly keeps the builder fully
    lazy.

    ``max_posting`` drops grams whose posting list exceeds the cap from
    candidate generation — a pathologically hot gram (a boilerplate
    phrase in d docs) otherwise materializes d(d-1)/2 pairs in one
    task.  Unlike a MinHash band bucket, a hot GRAM carries no near-dup
    signal (it's a stop-phrase), so dropping beats star-chaining here.
    Capped mode can no longer count |A∩B| from the pair multiset, so it
    switches to the rows-based exact verify — surviving pairs keep
    their exact Jaccard; only pairs whose EVERY shared gram is hot are
    missed.  ``prefix_filter=False, max_posting=None`` keeps the
    original one-pass exact path (cheapest when no gram is hot).
    """
    df = rebalance(df)
    inv = shingle_rows(df, text_col, id_col, shingle_k)
    persisted = False
    if prefix_filter == "auto":
        if max_posting is not None:
            prefix_filter = False  # capped mode has its own pruning
        elif df.isLocal():
            # driver-local input (createDataFrame corpora): trivially
            # small, the naive path always wins — skip the eager
            # decision job AND the persist (ADVICE r13)
            prefix_filter = False
        else:
            # one aggregate decides the plan (see docstring): naive
            # pair mass Σ df·(df−1)/2 vs posting count.  inv is
            # persisted first — the decision scan and the chosen
            # path's passes share it.
            inv = tracked_persist(inv)
            persisted = True
            prefix_filter = prefix_auto_decision(inv)
    if max_posting is None and prefix_filter:
        # reused 3× below (freq, prefix join, verify)
        if not persisted:
            inv = tracked_persist(inv)
        # ONE SQL parse for the whole PPJoin chain (r16 driver-cost
        # pass — see the minhash_dup_pairs note; the Column build of
        # these ~20 ops paid per-op py4j + eager analysis on every
        # call).  Semantics unchanged, comment-for-comment:
        # * global gram order (doc-frequency asc, gram) — rare grams
        #   first, so prefixes are maximally selective and hot grams
        #   never enter one;
        # * the 1e-9 epsilon guards each float ceil in the SAFE
        #   direction (longer prefix / lower required overlap — extra
        #   candidates only, and the verify is exact);
        # * the PPJoin POSITION filter (r13): a pair sharing prefix
        #   gram w at 1-based ranks (i, j) has overlap ≤
        #   min(nx−i, ny−j) + 1, while Jaccard ≥ t needs overlap ≥
        #   ceil(t/(1+t) · (nx+ny)) — lossless, measured 4.9× fewer
        #   candidates on the sf10 flat corpus.
        idq = f"`{id_col}`"
        t = f"{float(threshold)!r}D"
        frac = f"{float(threshold / (1.0 + threshold))!r}D"
        return sql_over(
            {"inv": inv},
            "WITH gfreq AS ("
            " SELECT gram, count(1) AS __gf FROM {inv} GROUP BY gram"
            "), isz AS ("
            f" SELECT {idq} AS __sid, count(1) AS n FROM {{inv}}"
            f" GROUP BY {idq}"
            "), pref AS ("
            f" SELECT {idq}, gram, __rn, n FROM ("
            f"  SELECT i.{idq}, i.gram, isz.n,"
            f"   row_number() OVER (PARTITION BY i.{idq}"
            "    ORDER BY g.__gf ASC, i.gram ASC) AS __rn"
            "  FROM {inv} i JOIN gfreq g ON i.gram = g.gram"
            f"  JOIN isz ON i.{idq} = isz.__sid)"
            f" WHERE __rn <= n - ceil({t} * n - 1e-9D) + 1"
            "), cand AS ("
            f" SELECT DISTINCT a.{idq} AS id_a, b.{idq} AS id_b"
            " FROM pref a JOIN pref b ON a.gram = b.gram"
            f" WHERE a.{idq} < b.{idq}"
            "  AND least(a.n - a.__rn, b.n - b.__rn) + 1 >="
            f"  ceil({frac} * (a.n + b.n) - 1e-9D)"
            "), vsz AS ("
            f" SELECT {idq} AS __vid, count(1) AS n FROM {{inv}}"
            f" GROUP BY {idq}"
            "), inter AS ("
            " SELECT id_a, id_b, count(1) AS n_inter FROM"
            f"  (SELECT {idq} AS id_a, gram FROM {{inv}})"
            "  JOIN cand USING (id_a)"
            f"  JOIN (SELECT {idq} AS id_b, gram FROM {{inv}})"
            "  USING (id_b, gram)"
            " GROUP BY id_a, id_b)"
            " SELECT id_a, id_b, jaccard FROM ("
            "  SELECT id_a, id_b,"
            "   n_inter / (sa.n + sb.n - n_inter) AS jaccard"
            "  FROM inter JOIN vsz sa ON id_a = sa.__vid"
            "  JOIN vsz sb ON id_b = sb.__vid)"
            f" WHERE jaccard >= {t}"
            " ORDER BY id_a, id_b",
        )
    if max_posting is not None:
        postings = inv.groupBy("gram").agg(
            F.sort_array(F.collect_list(id_col)).alias("ids")
        )
        capped = postings.filter(F.size("ids").between(2, max_posting))
        cand = _bucket_pairs(capped, None).dropDuplicates(
            ["id_a", "id_b"]
        )
        return _verify_jaccard(inv, cand, id_col, threshold)
    # uncapped naive path, ONE SQL parse (r16 — same device as the
    # prefix branch): each shared gram contributes exactly one pair
    # row, so the pair multiset count IS |A∩B| — no second pass over
    # the grams
    idq = f"`{id_col}`"
    t = f"{float(threshold)!r}D"
    return sql_over(
        {"inv": inv},
        "WITH postings AS ("
        f" SELECT sort_array(collect_list({idq})) AS ids FROM {{inv}}"
        " GROUP BY gram"
        "), inter AS ("
        " SELECT id_a, id_b, count(1) AS n_inter FROM ("
        "  SELECT p.id_a AS id_a, p.id_b AS id_b FROM ("
        "   SELECT explode(flatten(transform(ids, (x, i) ->"
        "    transform(slice(ids, i + 2, size(ids)),"
        "     y -> named_struct('id_a', x, 'id_b', y))))) AS p"
        "   FROM postings))"
        " GROUP BY id_a, id_b"
        "), isz AS ("
        f" SELECT {idq} AS __vid, count(1) AS n FROM {{inv}}"
        f" GROUP BY {idq})"
        " SELECT id_a, id_b, jaccard FROM ("
        "  SELECT id_a, id_b,"
        "   n_inter / (sa.n + sb.n - n_inter) AS jaccard"
        "  FROM inter JOIN isz sa ON id_a = sa.__vid"
        "  JOIN isz sb ON id_b = sb.__vid)"
        f" WHERE jaccard >= {t}"
        " ORDER BY id_a, id_b",
    )


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
) -> DataFrame:
    """Per-document SimHash fingerprint as array<int> of ``bits`` sign
    bits (1/0).  bit_j = sign of Σ_tokens (±1 by bit j of token hash).

    Kept as a bit array (not packed into one long) so Hamming distance
    is a zip_with XOR sum and no 64-bit sign issues arise.
    """
    df = rebalance(df)
    toks = tokens(F.col(text_col))
    th = F.transform(toks, _md5_hash64)

    def bits_pm(h: Column) -> Column:
        # bit j of h as ±1, via the binary-string rendering (single
        # expression; avoids shift-by-column, which Spark lacks)
        chars = F.split(F.reverse(F.lpad(F.bin(h), bits, "0")), "")
        return F.transform(
            F.slice(chars, 1, bits),
            lambda c: F.when(c == "1", F.lit(1)).otherwise(F.lit(-1)),
        )

    counts = F.aggregate(
        th,
        F.array_repeat(F.lit(0).cast("long"), bits),
        lambda acc, h: F.zip_with(
            acc, bits_pm(h), lambda a, b: a + b.cast("long")
        ),
    )
    bit_cols = F.transform(
        counts, lambda c: F.when(c > 0, F.lit(1)).otherwise(F.lit(0))
    )
    return df.select(F.col(id_col), bit_cols.alias("simhash"))


def hamming_dup_pairs(
    sig: DataFrame,
    sig_col: str,
    id_col: str,
    sig_len: int,
    threshold: int,
    bands: int,
    max_bucket: int | None = None,
) -> DataFrame:
    """Generic banded-Hamming near-dup join over ANY fixed-length
    integer signature column (``array<int>`` of ``sig_len``): pairs
    with Hamming distance ≤ ``threshold`` as (id_a, id_b, hamming),
    id_a < id_b.

    The signature splits into ``bands`` equal chunks; a pair within
    ``threshold`` mismatches corrupts at most ``threshold`` bands, so
    by pigeonhole it shares ≥ 1 intact band whenever
    ``threshold < bands`` — that setting is LOSSLESS.  Candidates
    come only from shared-(band, value) posting lists (one groupBy,
    map-side pair emission via :func:`_bucket_pairs`, bounded by
    bucket occupancy — never all-pairs), then an exact zip_with
    mismatch-count verify.  Shared by pHash image near-dup and the
    audio fingerprint (multimodal.py); element values may be any
    ints, not just bits.

    ``max_bucket``: star-cap for pathologically hot buckets — a
    degenerate corpus (flat images, silent audio) can put a large
    fraction of rows behind ONE (band, value), and an uncapped bucket
    emits |b|²/2 pairs in a single task.  With a cap, oversized
    buckets emit min-id stars (O(|b|) pairs, cluster stays connected
    for downstream grouping); pairs are exact-verified either way, so
    precision never changes — only pair-recall inside oversized
    buckets (same trade as the MinHash band cap).
    """
    if not 1 <= bands <= sig_len:
        raise ValueError("bands must be in [1, sig_len]")
    if sig_len % bands:
        raise ValueError("bands must divide the signature length")
    width = sig_len // bands
    # rebalance BEFORE persisting: a single-split input would
    # otherwise materialize as ONE cached block, serializing the
    # banded explode and both verify-join probes onto one core
    # (no-op on a wide input — the 100 TB case).  NOTE: if the
    # signature column itself is an expensive derived expression,
    # repartition the input BEFORE computing it — an exchange added
    # here sits above the projection, so the construction still runs
    # at the scan's width (PERF_NOTES_r12, the sf1 hamming chase).
    sig = tracked_persist(
        rebalance(sig.select(F.col(id_col), F.col(sig_col).alias("__sig")))
    )
    banded = sig.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.concat_ws(
                    ",",
                    F.transform(
                        F.slice(F.col("__sig"), b * width + 1, width),
                        lambda x: x.cast("string"),
                    ),
                ),
            )
        ).alias("band", "sig"),
    )
    posts = banded.groupBy("band", "sig").agg(
        F.sort_array(F.collect_list(id_col)).alias("ids")
    ).filter(F.size("ids") >= 2)
    # a pair sharing k intact bands is emitted k times; dedup AFTER
    # the verify filter, not before the joins — the duplicate
    # candidates re-run only the 16-element zip_with (cheap, map-side)
    # while the dedup shuffle then carries the tiny verified pair set
    # instead of every banded collision (PERF_NOTES_r12: one wide
    # exchange removed from the sf1 path; hamming is deterministic
    # per pair, so first-wins dedup is value-exact)
    cand = _bucket_pairs(posts, max_bucket)
    pa, pb = sig.alias("pa"), sig.alias("pb")
    ham = F.aggregate(
        F.zip_with(
            F.col("pa.__sig"), F.col("pb.__sig"),
            lambda x, y: F.when(x != y, 1).otherwise(0),
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return (
        cand.join(pa, F.col("id_a") == F.col(f"pa.{id_col}"))
        .join(pb, F.col("id_b") == F.col(f"pb.{id_col}"))
        .select("id_a", "id_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= F.lit(int(threshold)))
        .dropDuplicates(["id_a", "id_b"])
        .orderBy("id_a", "id_b")
    )


def simhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
) -> DataFrame:
    """Keep one document (min id) per identical SimHash fingerprint —
    one groupBy shuffle on the fingerprint."""
    sh = simhash(df, text_col, id_col, bits)
    keep = sh.groupBy(F.col("simhash").cast("array<string>").alias("fp")).agg(
        F.min(id_col).alias(id_col)
    )
    return keep.select(id_col).join(df, id_col, "inner")


def embedding_dup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    n_blocks: int = 8,
    sort_pairs: bool = True,
) -> DataFrame:
    """Embedding near-duplicate pairs: cosine ≥ threshold, exact,
    fully distributed — the default entry point.
    ``sort_pairs=False`` skips the final global orderBy for
    connected-components consumers (guide §2.4).

    Block Gram-matrix design: rows are hashed into ``n_blocks`` blocks;
    every unordered block pair (ba ≤ bb) becomes one task group whose
    Arrow kernel runs BLAS matmuls between the two blocks' matrices
    (upper triangle on the diagonal groups).  Nothing is collected to
    the driver; the kernel tiles the Gram product over A-side row
    chunks (r15), so per-task similarity memory is a fixed ≤ ~128 MB
    regardless of block size — only the (n/n_blocks)-row block
    matrices themselves scale with data.  The replication cost is
    (n_blocks+1)/2 × the input — pick n_blocks ≈ √(cluster cores) so
    every core gets a tile.  The
    total work is inherently O(n²) because the result is exact; for
    corpus-scale near-dup where approximate recall is acceptable, use
    :func:`pql_spark.operators.similarity.lsh_bucket_topk`-style
    hyperplane bucketing instead (candidates only within buckets).
    """
    import numpy as np
    import pandas as pd

    spark = df.sparkSession
    base = df.select(
        F.col(id_col).cast("long").alias(id_col), F.col(vec_col).alias(vec_col)
    ).withColumn("__blk", F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)))
    pairs = spark.createDataFrame(
        [(a, b) for a in range(n_blocks) for b in range(a, n_blocks)],
        "ba int, bb int",
    )
    side_a = base.join(
        F.broadcast(pairs), base["__blk"].cast("int") == pairs["ba"]
    ).select("ba", "bb", F.lit(0).alias("__side"), id_col, vec_col)
    side_b = base.join(
        F.broadcast(pairs),
        (base["__blk"].cast("int") == pairs["bb"]) & (pairs["ba"] != pairs["bb"]),
    ).select("ba", "bb", F.lit(1).alias("__side"), id_col, vec_col)
    work = side_a.unionByName(side_b)

    def kernel(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        ba, bb = key
        a_pdf = pdf[pdf["__side"] == 0]
        a_ids = a_pdf[id_col].to_numpy(dtype=np.int64)
        if not len(a_ids):
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
        a = np.stack([np.asarray(v, dtype=np.float64) for v in a_pdf[vec_col]])
        a_n = np.sqrt((a * a).sum(axis=1))
        if ba == bb:
            b_ids, b, b_n = a_ids, a, a_n
        else:
            b_pdf = pdf[pdf["__side"] == 1]
            b_ids = b_pdf[id_col].to_numpy(dtype=np.int64)
            if not len(b_ids):
                return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
            b = np.stack(
                [np.asarray(v, dtype=np.float64) for v in b_pdf[vec_col]]
            )
            b_n = np.sqrt((b * b).sum(axis=1))
        # r15: tile the Gram product over A-side row chunks so kernel
        # memory is bounded by the TILE (≤ ~128 MB of float64), not by
        # (block_rows)² — at 200 k rows / 8 blocks a full 25 k × 25 k
        # tile is 5 GB of similarities and 32 concurrent workers
        # OOM-crashed (r15 sf10 sweep).  BLAS throughput is unchanged
        # (each chunk is still one matmul); only peak memory drops.
        chunk = max(1, 16_000_000 // max(len(b_ids), 1))
        outs = []
        for s in range(0, len(a_ids), chunk):
            e = s + chunk
            sims = (a[s:e] @ b.T) / np.outer(a_n[s:e], b_n)
            hit = sims >= threshold
            if ba == bb:
                # strict upper triangle: no self-pairs, no double count
                hit &= a_ids[s:e, None] < b_ids[None, :]
            # off-diagonal blocks are disjoint id sets — every
            # unordered row pair appears in exactly one group;
            # normalize to (lo, hi)
            ii, jj = np.nonzero(hit)
            outs.append(
                pd.DataFrame(
                    {
                        "id_a": np.minimum(a_ids[s + ii], b_ids[jj]),
                        "id_b": np.maximum(a_ids[s + ii], b_ids[jj]),
                        "cosine": sims[ii, jj],
                    }
                )
            )
        return pd.concat(outs, ignore_index=True)

    out = work.groupBy("ba", "bb").applyInPandas(
        kernel, "id_a long, id_b long, cosine double"
    )
    return out.orderBy("id_a", "id_b") if sort_pairs else out


def embedding_dup_pairs_broadcast(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
) -> DataFrame:
    """Embedding near-duplicate pairs via driver-collect + broadcast.

    One side is collected to an (n, d) float64 matrix and broadcast to
    executors — the same "one side fits in memory" contract as a Spark
    broadcast join — and the other side streams through ``mapInPandas``
    in Arrow batches, each batch doing a single BLAS matmul against the
    broadcast side.  Zero shuffles, but the collected side must fit on
    the driver: use only when that is explicitly known (e.g. a
    reference/blocklist set).  :func:`embedding_dup_pairs` is the
    distributed default.
    """
    import numpy as np
    import pandas as pd

    side = df.select(id_col, vec_col).collect()
    ids = np.array([r[0] for r in side], dtype=np.int64)
    mat = np.array([[float(x) for x in r[1]] for r in side], dtype=np.float64)
    norms = np.sqrt((mat * mat).sum(axis=1))
    bc = df.sparkSession.sparkContext.broadcast((ids, mat, norms))

    def kernel(batches):
        b_ids, b_mat, b_norms = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            a = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            a_ids = pdf[id_col].to_numpy(dtype=np.int64)
            a_norms = np.sqrt((a * a).sum(axis=1))
            sims = (a @ b_mat.T) / np.outer(a_norms, b_norms)
            ii, jj = np.nonzero(
                (sims >= threshold) & (a_ids[:, None] < b_ids[None, :])
            )
            yield pd.DataFrame(
                {
                    "id_a": a_ids[ii],
                    "id_b": b_ids[jj],
                    "cosine": sims[ii, jj],
                }
            )

    return (
        rebalance(df.select(id_col, vec_col))
        .mapInPandas(kernel, "id_a long, id_b long, cosine double")
        .orderBy("id_a", "id_b")
    )


def semantic_dedup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.9,
    n_clusters: int = 16,
    sample_size: int = 2048,
    iters: int = 10,
    passes: int = 1,
    sort_pairs: bool = True,
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate pairs (Abbas et al. 2023,
    arXiv:2303.09540): coarse k-means cells over the embeddings, exact
    cosine pairs WITHIN each cell.

    Scale shape: centroid training is a bounded driver-side sample
    (deterministic spherical k-means); assignment is a narrow Catalyst
    pass; pair generation is one BLAS matmul per cell in
    ``applyInPandas`` — total work drops from O(n²) to
    Σ_cells O(|cell|²), the SemDeDup trade: cross-cell duplicates are
    missed BY DESIGN (semantic dups land in the same cell).  Raise
    ``n_clusters`` so the largest cell's tile fits executor memory;
    emitted pairs are exact cosines, so precision vs brute force is 1.

    ``passes`` (r12) is the cross-cell recall knob: each extra pass
    re-trains the coarse quantizer with a rotated deterministic
    initialization (``train_centroids(init_frac=p/(2*passes))``) —
    a different local optimum with different cell boundaries — and
    unions the within-cell pairs, deduplicated on (id_a, id_b).  A
    duplicate pair is missed only if EVERY pass splits it across
    cells; boundary pairs rarely straddle two independent partitions.
    Cost is linear in ``passes`` (the full Σ|cell|² kernel re-runs per
    pass; precision stays 1 — cosines are exact either way).  Measured
    on the rotation-degenerate circle construction in
    ``tests/test_semantic_passes.py``: passes=1 recall 55/60, passes=2
    recall 1.0, zero false pairs, at 2x the single-pass cost envelope.
    """
    import numpy as np
    import pandas as pd

    from .similarity import ivf_assign, train_centroids

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[id_col].to_numpy(dtype=np.int64)
        if len(ids) < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
        mat = np.stack(
            [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
        )
        norms = np.sqrt((mat * mat).sum(axis=1))
        sims = (mat @ mat.T) / np.outer(norms, norms)
        hit = (sims >= threshold) & (ids[:, None] < ids[None, :])
        ii, jj = np.nonzero(hit)
        return pd.DataFrame(
            {"id_a": ids[ii], "id_b": ids[jj], "cosine": sims[ii, jj]}
        )

    narrow = df.select(
        F.col(id_col).cast("long").alias(id_col), F.col(vec_col)
    )
    out = None
    for p in range(max(passes, 1)):
        cents = train_centroids(
            df, n_clusters, vec_col, id_col, sample_size, iters,
            init_frac=p / (2 * passes) if passes > 1 else 0.0,
        )
        pass_pairs = (
            ivf_assign(narrow, cents, vec_col, "__sd_cell")
            .groupBy("__sd_cell")
            .applyInPandas(kernel, "id_a long, id_b long, cosine double")
        )
        out = (
            pass_pairs if out is None else out.unionByName(pass_pairs)
        )
    if passes > 1:  # same pair found by several passes: identical
        out = out.dropDuplicates(["id_a", "id_b"])  # exact cosines
    return out.orderBy("id_a", "id_b") if sort_pairs else out


def semantic_dedup(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.9,
    n_clusters: int = 16,
    sample_size: int = 2048,
    iters: int = 10,
    passes: int = 1,
) -> DataFrame:
    """Remove semantic near-duplicates: keep the min-id representative
    of every within-cell duplicate cluster (transitive over the pair
    graph) plus all unpaired rows — ``semantic_dedup_pairs`` composed
    with :func:`dedup_by_pairs`.  ``passes`` > 1 adds the rotated-init
    cross-cell recall passes (see :func:`semantic_dedup_pairs`)."""
    pairs = semantic_dedup_pairs(
        df, vec_col, id_col, threshold, n_clusters, sample_size, iters,
        passes, sort_pairs=False,  # CC ignores pair order (guide §2.4)
    )
    return dedup_by_pairs(df, pairs, id_col)


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    driver_pairs_max: int | None = 500_000,
) -> DataFrame:
    """Connected components over a duplicate-pair graph →
    ``(id, component)`` with component = min node id in the group —
    the transitive-closure step that turns pairwise near-dup output
    (minhash/ngram/embedding pairs) into whole duplicate CLUSTERS, so
    "keep one per cluster" is exact even for chains a~b~c where (a, c)
    was never emitted as a pair.

    Distributed min-label propagation: each round is one
    edges⋈labels join plus a groupBy-min (two shuffles), and
    ``localCheckpoint`` truncates the lineage so the plan stays flat.
    Rounds needed = graph diameter — near-dup clusters are dense/
    star-shaped, so typically 2-4; ``max_iter`` bounds adversarial
    chains.  Early-exits via a cheap changed-row probe.  No unbounded
    driver state: scales to edge sets far larger than memory (the same
    min-propagation used by MapReduce CC algorithms; see also
    large-star/small-star for log-round guarantees on long chains).

    ``driver_pairs_max`` (r15, guide §1.2/§3.1): a pair set at or
    below this row count is solved on the DRIVER — one bounded
    ``toPandas`` of the 2-long-column pair table plus a vectorized
    numpy min-label/pointer-doubling loop — instead of the
    distributed loop.  The distributed loop costs ~5 driver-
    synchronized shuffling jobs even for a 500-node graph (measured
    ~1.9 s at sf0.1 for 311 pairs); the driver path is one count on
    the checkpointed pairs + one Arrow collect (~0.3 s).  This is the
    broadcast-join size trade applied to CC: 500 k pairs is ~8 MB of
    ids — far under the driver's broadcast-sized budget — while any
    corpus-scale pair graph blows past the gate and takes the
    distributed loop unchanged.  Pass ``None`` (or 0) to force the
    distributed loop.  Both paths implement the same min-label +
    pointer-doubling algorithm, so results are identical (asserted by
    tests/test_sampling.py equivalence tests)."""
    base = pairs.select(
        F.col(id_a).cast("long").alias("a"),
        F.col(id_b).cast("long").alias("b"),
    ).localCheckpoint()
    pdf = None
    if driver_pairs_max:
        # one bounded Arrow collect decides the path AND delivers the
        # data: ≤ max rows back means we hold the complete pair set
        # (saves the separate count job the old two-action probe paid)
        pdf = base.limit(driver_pairs_max + 1).toPandas()
        if len(pdf) > driver_pairs_max:
            pdf = None  # over the gate: fall through, distributed loop
    if pdf is not None:
        import numpy as np
        import pandas as pd

        spark = pairs.sparkSession
        schema = "id long, component long"
        if not len(pdf):
            return spark.createDataFrame([], schema)
        a = pdf["a"].to_numpy(np.int64)
        b = pdf["b"].to_numpy(np.int64)
        nodes, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
        ea, eb = inv[: len(a)], inv[len(a) :]
        comp = np.arange(len(nodes))
        while True:
            prev = comp.copy()
            np.minimum.at(comp, ea, prev[eb])
            np.minimum.at(comp, eb, prev[ea])
            while True:  # pointer doubling to the pass's fixpoint
                nxt = comp[comp]
                if np.array_equal(nxt, comp):
                    break
                comp = nxt
            if np.array_equal(comp, prev):
                break
        out = pd.DataFrame(
            {"id": nodes, "component": nodes[comp]}
        )
        return spark.createDataFrame(out, schema)
    edges = base.union(
        base.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    labels = (
        edges.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
        .localCheckpoint()
    )
    for it in range(max_iter):
        neighbor = edges.join(
            labels.select(
                F.col("id").alias("b"),
                F.col("component").alias("nc"),
            ),
            "b",
        ).select(F.col("a").alias("id"), F.col("nc").alias("component"))
        new = (
            labels.select("id", "component")
            .union(neighbor)
            .groupBy("id")
            .agg(F.min("component").alias("component"))
        )
        # pointer doubling: follow each label one more hop
        # (label[label[id]]) so convergence is O(log diameter), not
        # O(diameter) — a 1M-long path converges in ~20 rounds
        new = (
            new.join(
                new.select(
                    F.col("id").alias("component"),
                    F.col("component").alias("__root"),
                ),
                "component",
            )
            .select("id", F.col("__root").alias("component"))
            .localCheckpoint()
        )
        if it == 0:
            # round 1 always changes when any edge exists — skip the
            # probe job (one fewer action per call; star-shaped dup
            # graphs converge in 2 rounds, so this halves the probes)
            labels = new
            continue
        changed = (
            new.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.component") != F.col("o.component"))
            .limit(1)
            .count()
        )
        labels = new
        if changed == 0:
            break
    return labels


def dedup_by_pairs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Remove all but one row per duplicate CLUSTER (transitive over
    the pair graph): keeps the min-id representative of each component
    plus every row that appears in no pair.  One broadcast-sized
    anti-join against the (tiny relative to the corpus) non-
    representative id set."""
    comps = connected_components(pairs, id_a, id_b)
    losers = comps.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def near_dup_incremental(
    new_docs: DataFrame,
    state_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
) -> DataFrame:
    """Batch-incremental MinHash-LSH near-dup detection with PERSISTED
    bucket state — the batch twin of
    :func:`pql_spark.streaming.stream_near_dup` for pipelines that
    ingest in daily/hourly increments: each call flags new documents
    whose LSH band buckets are already owned by an earlier batch's
    keeper (or by a lower id within this batch), then appends this
    batch's NEW buckets to the state, so re-computation never touches
    historical documents.

    State at ``state_dir``: parquet ``(band, bhash, keeper)`` — one row
    per occupied bucket, bounded by corpus bucket count.  Identical
    banding to :func:`band_signature`/:func:`minhash_dup_pairs`, so
    batch, incremental, and streaming buckets agree bit-for-bit.
    Returns ``(id, band, dup_of)`` candidate rows (same contract as
    the stream: verify exact Jaccard downstream if needed).  The state
    append is plain parquet `append` — wrap calls in your job-level
    retry/transaction if partial writes matter.
    """
    from pathlib import Path

    from pyspark.sql import types as T

    spark = new_docs.sparkSession
    sig = minhash_signature(
        new_docs, text_col, id_col, num_perm, shingle_k,
        impl="pandas", include_shingles=False,
    )
    banded = tracked_persist(
        band_signature(sig, id_col, num_perm, bands)
    )
    state_schema = T.StructType(
        [
            T.StructField("band", T.IntegerType()),
            T.StructField("bhash", T.StringType()),
            T.StructField("keeper", T.LongType()),
        ]
    )
    if Path(state_dir).exists():
        state = spark.read.schema(state_schema).parquet(state_dir)
    else:
        state = spark.createDataFrame([], state_schema)
    # snapshot the pre-append state listing NOW (parquet reads pin
    # their file index at read time, so the append below cannot leak
    # into this batch's own dup detection)
    idc = F.col(id_col)
    batch_min = banded.groupBy("band", "bhash").agg(
        F.min(idc).alias("__nd_min")
    )
    # vs HISTORY: every batch id in an occupied bucket dups the keeper.
    # Plain equi-join — the state grows with the corpus bucket count,
    # so AQE must stay free to pick broadcast (small state) or shuffle
    # (mature corpus); at scale, bucket the state dir on (band, bhash)
    vs_state = banded.join(state, ["band", "bhash"]).select(
        idc, F.col("band"), F.col("keeper").alias("dup_of")
    )
    # vs THIS batch: in buckets new to the state, non-min ids dup the
    # batch minimum (first-seen semantics, same as the stream kernel)
    new_buckets = batch_min.join(state, ["band", "bhash"], "left_anti")
    vs_batch = (
        banded.join(new_buckets, ["band", "bhash"])
        .filter(idc > F.col("__nd_min"))
        .select(idc, F.col("band"), F.col("__nd_min").alias("dup_of"))
    )
    dups = vs_state.unionByName(vs_batch)
    # persist the batch's new buckets with their keepers
    new_buckets.select(
        "band", "bhash", F.col("__nd_min").alias("keeper")
    ).write.mode("append").parquet(state_dir)
    return dups
