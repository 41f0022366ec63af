"""End-to-end pipeline compositions.

``curate_corpus`` is the canonical training-data pipeline the individual
operators exist for: quality filter → language filter → exact dedup →
MinHash near-dup removal → deterministic content-keyed train/test split.
Every stage is one of this package's operators, composed lazily — the
whole pipeline is a single Spark job graph, so Catalyst sees (and
optimizes) it end to end, and it scales exactly as its stages do.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .operators.dedup import minhash_dup_pairs
from .operators.sampling import train_test_split
from .operators.text import (
    dedup_lines,
    redact_pii,
    repetition_stats,
)


def curate_corpus(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_quality: float = 0.75,
    langs: Sequence[str] | None = ("en",),
    near_dup_threshold: float = 0.85,
    test_rate: float = 0.05,
    max_dup_ngram_frac: float | None = None,
    benchmark: DataFrame | None = None,
    decontaminate_gram_n: int = 13,
    redact: bool = False,
    drop_repeated_lines: bool = False,
    timing: dict | None = None,
    qa: dict | None = None,
) -> DataFrame:
    """Curate a raw document table into a deduplicated, split corpus.

    Returns the surviving rows of ``docs`` with three appended columns:
    ``quality``, ``lang_pred``, and ``split`` ('train'/'test'); with
    ``redact=True`` the text column is PII-scrubbed in place.

    Stage-by-stage (each narrow or one-shuffle):
    0. optional within-doc repeated-line scrub
       (``drop_repeated_lines``, narrow — see
       :func:`~pql_spark.operators.text.dedup_lines`);
    1. quality ≥ ``min_quality`` (C4/Gopher-style heuristics);
    2. predicted language ∈ ``langs`` (skipped when ``langs`` is None);
    3. repetition filter: drop docs whose duplicate-``n``-gram char
       fraction exceeds ``max_dup_ngram_frac`` (Gopher rule; skipped
       when None);
    4. exact dedup on the normalized-text fingerprint (min-id survivor);
    5. near-dup removal: MinHash+LSH pairs at ``near_dup_threshold``;
       the higher id of each pair is dropped (transitive chains collapse
       to their minimum id over repeated pairs);
    6. benchmark decontamination: drop docs sharing any
       ``decontaminate_gram_n``-gram with ``benchmark`` (skipped when
       None; folded into one combined drop-list with the near-dup ids
       so the corpus is anti-joined once);
    7. optional PII redaction of the surviving text;
    8. train/test split keyed on the CONTENT fingerprint, not the id —
       re-ingesting the same text can never land it in the other split.

    ``timing``: DIAGNOSTIC ONLY — pass a dict to get per-stage wall
    seconds written into it (keys below).  Timing mode materializes
    each stage with ``localCheckpoint`` so the numbers are attributable
    increments; that inserts barriers Catalyst would otherwise fuse
    away, so the SUM exceeds the lazy pipeline's end-to-end time.  Use
    it to see which stage moved between environments, not as the
    benchmark number.

    ``qa``: pass a dict to ALSO receive a lazy QA report on what the
    pipeline kept vs dropped (the curation-review view).  Keys set:

    * ``qa["profile"]`` — :func:`profile_columns` of the annotated
      corpus (id, quality, lang_pred, text_len) grouped by a
      ``cohort`` column ('kept'/'dropped' by final survival);
    * ``qa["quality_hist_kept"]`` / ``qa["quality_hist_dropped"]`` —
      20-bin :func:`numeric_histogram` of the quality score per
      cohort over the fixed [0, 1] range (bin edges comparable across
      runs and cohorts);
    * ``qa["stage_counts"]`` — one row per pipeline stage
      ``(stage_idx, stage, rows)`` of surviving row counts, built
      from 1-row partial aggregates over each stage frame.

    All three are *lazy DataFrames sharing the pipeline's lineage*
    (the persisted post-dedup corpus is reused); collecting them runs
    extra jobs but never mutates the main result, and the main return
    is byte-identical with or without ``qa``.
    """
    import time as _time

    if langs is not None:
        bad = [lang for lang in langs if not isinstance(lang, str)]
        if bad:
            raise TypeError(f"curate_corpus: langs must be str, got {bad!r}")

    from .operators._util import (
        pinned_filter,
        rebalance,
        sql_over,
        tracked_persist,
    )

    def _mark(stage: str, frame: DataFrame) -> DataFrame:
        if timing is None:
            return frame
        t0 = _time.perf_counter()
        out = frame.localCheckpoint()
        timing[stage] = round(_time.perf_counter() - t0, 3)
        return out

    # spread a single-file input across the cluster's cores FIRST: the
    # whole narrow filter chain below otherwise runs as ONE task (one
    # parquet split), serializing every regex/fold expression onto one
    # core (measured 2.4 s → 0.3 s for the chain at sf0.1); a real
    # multi-split corpus makes this a no-op
    docs = rebalance(docs)

    if drop_repeated_lines:
        # within-doc line dedup FIRST (narrow fold, no shuffle) so the
        # quality metrics and fingerprints see the scrubbed text
        docs = _mark(
            "line_scrub",
            dedup_lines(docs, text_col, id_col).drop("n_lines_removed"),
        )

    # quality / language / fingerprint are all narrow per-row
    # expressions: CHAIN them as appended columns (zero shuffles) rather
    # than computing (id, metric) tables and self-joining back — three
    # full-table shuffles saved, and the filters still push into the
    # single projection over the scan.  r16: the three operator calls
    # (3 selects + a 6-column drop, each paying eager analysis over the
    # growing plan) are fused into ONE selectExpr emitting exactly the
    # three kept columns — same expressions (shared SQL-text helpers),
    # same collapsed Project after optimization.
    from .operators.text import (
        _fingerprint_exprs,
        _langid_exprs,
        _quality_exprs,
    )

    kept = docs.selectExpr(
        "*",
        f"{_quality_exprs(text_col)['quality']} AS quality",
        f"{_langid_exprs(text_col)['lang_pred']} AS lang_pred",
        f"{_fingerprint_exprs(text_col)['fingerprint']} AS fingerprint",
    )
    # pinned: pushdown would substitute the quality/langid trees into a
    # pre-shuffle Filter and evaluate them twice — see pinned_filter
    annot = kept  # full annotated frame (pre-filter) — QA cohort base
    stages: list[tuple[str, DataFrame]] = [("input", annot)]
    # ONE source of truth for the keep-condition, as SQL text: the
    # filter parses it (identical tree to the old Column build) and the
    # QA stage-count pass below re-counts it without re-attaching a
    # second Column tree (r16 — VERDICT r15 item 2)
    from .operators.text import _slit

    cond_sql = f"quality >= {float(min_quality)!r}D"
    if langs is not None:
        in_list = ", ".join(_slit(lang) for lang in langs)
        cond_sql += f" AND lang_pred IN ({in_list})"
    cond = F.expr(cond_sql)
    kept = _mark("quality_lang", pinned_filter(kept, cond))
    stages.append(("quality_lang", kept))

    if max_dup_ngram_frac is not None:
        # appended narrow fold over `kept` (not `docs`): the repetition
        # stats only pay for rows that survived the filters above, and
        # append=True keeps this a zero-join CHAIN — the old
        # (id, stat)-then-join-back shape recomputed the whole narrow
        # lineage twice
        kept = pinned_filter(
            repetition_stats(kept, text_col, id_col, append=True),
            F.col("dup_ngram_frac") <= max_dup_ngram_frac,
        ).drop(
            "n_lines", "dup_line_frac", "dup_line_char_frac",
            "top_ngram_frac", "dup_ngram_frac",
        )
        kept = _mark("repetition", kept)
        stages.append(("repetition", kept))

    # exact dedup: one survivor (min id) per identical normalized text.
    # A fingerprint-partitioned window min beats the groupBy+join-back
    # (one shuffle instead of two, and no second evaluation of the
    # filter lineage above)
    from pyspark.sql import Window

    w = Window.partitionBy("fingerprint")
    kept = _mark(
        "exact_dedup",
        kept.withColumn("__min_id", F.min(F.col(id_col)).over(w))
        .filter(F.col(id_col) == F.col("__min_id"))
        .drop("__min_id"),
    )

    # `kept` is re-read by minhash (signature + exact verify), the
    # decontamination scan, the drop anti-join, redaction, and the final
    # split — persist it ONCE so the filter/join DAG above runs once.
    # The expensive branches (minhash, contamination) are then reduced
    # to TINY id drop-lists which are persisted too; without that, every
    # downstream consumer would re-run the whole minhash pipeline
    # through the anti-join's lineage (measured 22-38s vs ~9s at sf0.1).
    stages.append(("exact_dedup", kept))
    kept = kept_persisted = tracked_persist(kept)

    # near-dup removal: drop the higher id of every similar pair.
    # 32 perms / 8 bands (r=4) halve the signature work vs the 64/16
    # default while keeping ~98.5% pair recall at s=0.8 — the curation
    # trade (the detector's exactness lives in the verify stage either
    # way; only candidate recall changes)
    pairs = minhash_dup_pairs(
        kept, text_col=text_col, id_col=id_col,
        num_perm=32, bands=8,
        threshold=near_dup_threshold,
        sort_pairs=False,  # only the id_b drop-set is used (guide §2.4)
    )
    drops = pairs.select(F.col("id_b").alias(id_col))
    if timing is not None:
        t0 = _time.perf_counter()
        drops = drops.localCheckpoint()
        timing["near_dup_pairs"] = round(_time.perf_counter() - t0, 3)

    if benchmark is not None:
        from .operators.dedup import contamination_report

        contaminated = contamination_report(
            kept, benchmark, text_col, id_col, gram_n=decontaminate_gram_n
        ).select(id_col)
        if timing is not None:
            t0 = _time.perf_counter()
            contaminated = contaminated.localCheckpoint()
            timing["decontaminate"] = round(
                _time.perf_counter() - t0, 3
            )
        drops = drops.unionByName(contaminated)

    drops = tracked_persist(drops.distinct())
    kept = kept.join(drops, id_col, "left_anti")
    stages.append(("near_dup_decontam", kept))

    if redact:
        # in-place narrow scrub — the (id, redacted) join-back shape
        # would shuffle the surviving corpus twice for a per-row regex
        kept = _mark(
            "redact", redact_pii(kept, text_col, id_col, append=True)
        )

    out = train_test_split(
        kept, key="fingerprint", test_rate=test_rate
    ).drop("fingerprint")
    out = _mark("split", out)

    if qa is not None:
        from .operators.profiling import numeric_histogram, profile_columns

        stages.append(("final", out))

        idq = f"`{id_col}`"
        # cohort label: did the annotated doc survive to the output?
        # (left join on the id — the output is a subset of `annot`, so
        # a match means kept).  text_len instead of raw text keeps the
        # profile numeric where it matters.  Built as ONE spark.sql
        # parse (r16): the old 4-op Column chain paid eager analysis
        # per op over the full annotated lineage; the SQL text yields
        # the same join+project tree in one analysis pass.
        labeled = sql_over(
            {"annot": annot, "out": out},
            f"SELECT a.{idq}, a.quality, a.lang_pred,"
            f" length(a.`{text_col}`) AS text_len,"
            " CASE WHEN o.__qa_kept THEN 'kept' ELSE 'dropped' END"
            " AS cohort"
            " FROM {annot} a LEFT JOIN"
            f" (SELECT {idq}, TRUE AS __qa_kept FROM {{out}}) o"
            f" ON a.{idq} = o.{idq}",
        )
        # r15 (guide §1.2 / §5): `labeled` feeds the profile AND both
        # histograms AND two stage counts below — without a persist,
        # each consumer re-runs the full annotated lineage (the
        # quality/langid regex trees over every document, ~0.5 s per
        # pass at sf0.1) plus the final-ids join.  It is four narrow
        # columns per doc, so the cache is tiny; tracked_persist keeps
        # the bench's eviction contract.
        labeled = tracked_persist(labeled)
        qa["profile"] = profile_columns(
            labeled.select("cohort", id_col, "quality", "text_len"),
            group_by="cohort",
        )
        # fixed [0,1] bounds: ONE pass each, and bin edges line up
        # across cohorts/runs (quality_score is bounded in [0,1])
        for c in ("kept", "dropped"):
            qa[f"quality_hist_{c}"] = numeric_histogram(
                labeled.filter(F.col("cohort") == c),
                "quality", bins=20, lo=0.0, hi=1.0,
            )
        # Stage counts, fused (r15, folded further r16 — guide §2.3
        # "aggregate before you shuffle" / §1.2 don't compute things
        # twice): stages whose counts are provably identical or
        # derivable share ONE aggregate pass.
        # * `input` + `quality_lang` are one scan of the persisted
        #   `labeled` frame — count(CASE WHEN cond) counts exactly the
        #   filter's TRUE rows, and `labeled` has one row per `annot`
        #   row carrying the columns the filter reads.
        # * `exact_dedup` + `near_dup_decontam` + `final` (r16) are ONE
        #   pass over the persisted post-dedup frame LEFT-JOINED to the
        #   distinct drop list: count(1) is the exact_dedup row count
        #   (each row matches ≤1 drop id because `drops` is distinct,
        #   so the left join preserves cardinality), count(CASE WHEN no
        #   match) is exactly the anti-join's row count, and
        #   train_test_split only appends a column (never changes row
        #   count) so `final` equals it.  This drops the separate
        #   exact_dedup aggregate subtree — one fewer full pass per QA
        #   report (pinned by tests/test_pipelines.py).
        # Any remaining middle stage (e.g. the optional repetition
        # filter) keeps its own single-count pass.
        # The whole accounting is ONE spark.sql parse instead of the
        # old per-frame agg/explode/union Column chains.
        by_name = {name: i for i, (name, _) in enumerate(stages)}
        frames = {"labeled": labeled, "kept": kept_persisted, "drops": drops}
        # cond_sql carries caller strings (langs): escape it for format
        cond_fmt = cond_sql.replace("{", "{{").replace("}", "}}")

        def _emit(entries: list[tuple[int, str, str]], src: str) -> str:
            structs = ", ".join(
                f"named_struct('stage_idx', {i}, 'stage', '{name}',"
                f" 'rows', {alias})"
                for i, name, alias in entries
            )
            return (
                "SELECT s.stage_idx, s.stage, s.rows FROM"
                f" (SELECT explode(array({structs})) AS s FROM ({src}))"
            )

        parts = [
            _emit(
                [
                    (by_name["input"], "input", "__n_input"),
                    (by_name["quality_lang"], "quality_lang", "__n_ql"),
                ],
                "SELECT count(1) AS __n_input,"
                f" count(CASE WHEN {cond_fmt} THEN 1 END) AS __n_ql"
                " FROM {labeled}",
            ),
            _emit(
                [
                    (by_name["exact_dedup"], "exact_dedup", "__n_exact"),
                    (
                        by_name["near_dup_decontam"],
                        "near_dup_decontam",
                        "__n_post",
                    ),
                    (by_name["final"], "final", "__n_post"),
                ],
                "SELECT count(1) AS __n_exact,"
                f" count(CASE WHEN d.{idq} IS NULL THEN 1 END) AS __n_post"
                " FROM {kept} k LEFT JOIN {drops} d"
                f" ON k.{idq} = d.{idq}",
            ),
        ]
        for i, (name, f) in enumerate(stages):
            if name in (
                "input", "quality_lang", "exact_dedup",
                "near_dup_decontam", "final",
            ):
                continue
            frames[f"mid{i}"] = f
            parts.append(
                f"SELECT {i} AS stage_idx, '{name}' AS stage,"
                f" count(1) AS rows FROM {{mid{i}}}"
            )
        qa["stage_counts"] = sql_over(frames, " UNION ALL ".join(parts))
    return out
