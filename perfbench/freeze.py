"""Freeze the benchmark's workload inputs from ``__spark_entry__``.

Writes ``perfbench/inputs/workloads.json``: every PQL gate text with its
DuckDB oracle SQL and the tables it reads, the curation pipeline calls with
their parameters and oracle SQL, and the texts the SQL emitter refuses.
The benchmark reads only that file, so a later edit to the gates cannot
change a workload silently; re-run this script on purpose to refreeze.

Usage (from the repository root): ``python3 perfbench/freeze.py``
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

import __spark_entry__ as gates  # noqa: E402
from pql_spark.lexer import TokenKind, scan  # noqa: E402
from pql_spark.parser import QueryError  # noqa: E402
from pql_spark.sql_backend import compile_to_sql  # noqa: E402

TABLES = set(
    "region nation customer supplier part orders lineitem events "
    "documents embeddings".split()
)
OUT = Path(__file__).resolve().parent / "inputs" / "workloads.json"

# pql_cached runs every STRIDE-th single-output text the SQL emitter
# compiles, the five texts it refuses (the DataFrame-compiler islands) and,
# for a persisted table none of those reads, the first text that reads it:
# all 115 texts do not fit one run's time budget on Spark
STRIDE = 15
# tables the pql_cached caller persists before the run
CACHED_TABLES = ["customer", "events", "orders"]


def _tables(text: str) -> list[str]:
    return sorted(
        {t.value for t in scan(text) if t.kind == TokenKind.IDENT}
        & TABLES
    )


def _refused(text: str, columns: dict[str, list[str]]) -> bool:
    try:
        compile_to_sql(text, columns)
    except QueryError:
        return True
    return False


def main() -> None:
    sys.path.insert(0, str(Path(__file__).resolve().parent))
    import datagen

    sample = {
        name: table.schema.names
        for name, table in datagen.tables("tiny", 0).items()
    }
    pql = []
    for name, (text, oracle) in gates.PQL_QUERIES.items():
        pql.append({
            "name": name,
            "text": text,
            "multi": False,
            "oracles": {"main": oracle},
            "tables": _tables(text),
            "refused": _refused(text, sample),
        })
    multi = {
        "pql_facet": (gates._FACET_QUERY, {
            "event_type": gates._FACET_COUNTS_ORACLE,
            "main": gates._FACET_MAIN_ORACLE,
        }),
        "pql_fork": (gates._FORK_QUERY, {
            "hot": gates._FORK_HOT_ORACLE,
            "daily": gates._FORK_DAILY_ORACLE,
        }),
    }
    for name, (text, oracles) in multi.items():
        pql.append({
            "name": name, "text": text, "multi": True, "oracles": oracles,
            "tables": _tables(text), "refused": False,
        })
    dup = {"below": 50, "offset": gates._DUP_OFF, "suffix": " xtra"}
    curate = [
        {
            "name": "minhash",
            "call": "dedup.minhash_dup_pairs",
            "input": "documents_with_dups",
            "params": {"num_perm": 64, "bands": 16, "shingle_k": 5,
                       "threshold": 0.7, "sort_pairs": True},
            "oracle": gates._minhash_oracle(),
        },
        {
            "name": "ngram",
            "call": "dedup.ngram_jaccard_pairs",
            "input": "documents_with_dups",
            "params": {"shingle_k": gates._NGRAM_K,
                       "threshold": gates._NGRAM_T},
            "oracle": gates._NGRAM_ORACLE,
        },
        {
            "name": "clusters",
            "call": "dedup.connected_components",
            "input": "minhash_pairs_unsorted",
            "params": {},
            "order_by": "id",
            "oracle": gates._dedup_clusters_oracle(),
        },
        {
            "name": "curate",
            "call": "pipelines.curate_corpus",
            "input": "documents",
            "params": {"min_quality": 0.5, "langs": None,
                       "near_dup_threshold": 0.8, "test_rate": 0.1,
                       "max_dup_ngram_frac": 0.98,
                       "decontaminate_gram_n": 13, "redact": True},
            "benchmark_doc_id_mod": 97,
            "select": ["doc_id", "lang_pred", "split"],
            "order_by": "doc_id",
            "oracle": gates._curate_corpus_oracle(),
        },
        {
            "name": "embedding",
            "call": "dedup.embedding_dup_pairs",
            "input": "embeddings",
            "params": {"threshold": gates._COSINE_PAIRS_T},
            "oracle": gates._COSINE_PAIRS_ORACLE,
        },
    ]
    sql_path = [q for q in pql if not (q["refused"] or q["multi"])]
    cached = [q["name"] for q in sql_path[::STRIDE]] + [
        q["name"] for q in pql if q["refused"]
    ]
    by_name = {q["name"]: q for q in pql}
    for table in CACHED_TABLES:
        if not any(table in by_name[n]["tables"] for n in cached):
            cached.append(next(
                q["name"] for q in sql_path if table in q["tables"]))
    doc = {
        "source": "__spark_entry__.py",
        "pql": pql,
        "pql_cached": cached,
        "cached_tables": CACHED_TABLES,
        "documents_with_dups": dup,
        "curate": curate,
    }
    OUT.parent.mkdir(exist_ok=True)
    OUT.write_text(json.dumps(doc, indent=1, sort_keys=True) + "\n")
    refused = [q["name"] for q in pql if q["refused"]]
    print(f"{len(pql)} PQL texts ({len(refused)} refused: {refused}), "
          f"pql_cached {len(cached)}, "
          f"{len(curate)} pipeline calls -> {OUT.relative_to(ROOT)}")


if __name__ == "__main__":
    main()
