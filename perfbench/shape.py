"""Shape figures of a table set: what decides how much work each op does.

    python3 perfbench/shape.py DATA_DIR [OTHER_DATA_DIR]

Prints, per data directory, the figures that drive the workloads' cost:
table rows; words per document and near-duplicate documents; for the
n-gram op the inverted index's postings, its naive candidate-pair mass
(sum of df*(df-1)/2 over grams), their ratio and the
``prefix_filter="auto"`` decision it gives (on above 100); the pairs that
share a gram; the MinHash band candidates; the output rows of every
frozen op; the clusters, the largest cluster and the rounds of the
min-label loop over the MinHash pairs.  With two directories it prints
them side by side with their ratio, to compare the benchmark's generated
data with another table set of the same schema.  Everything is computed
by DuckDB from the frozen oracle SQL; no Spark.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import numpy as np

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

from datagen import TABLES  # noqa: E402
from oracle import Oracle  # noqa: E402

INPUTS = HERE / "inputs" / "workloads.json"
# ngram_jaccard_pairs(prefix_filter="auto") turns the filter on above this
# pair mass per posting
PREFIX_AUTO_MASS_RATIO = 100.0


def _ctes(sql: str) -> str:
    """The oracle's WITH clause without its final SELECT."""
    return sql[: sql.rindex("\nSELECT id_a")]


def _cc_rounds(pairs: list[tuple]) -> int:
    """Rounds of min-label propagation with pointer doubling until no
    label changes: the loop ``connected_components`` runs on the driver."""
    if not pairs:
        return 0
    a, b = (np.array(x, np.int64) for x in zip(*pairs))
    nodes, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
    ea, eb = inv[: len(a)], inv[len(a):]
    comp = np.arange(len(nodes))
    rounds = 0
    while True:
        rounds += 1
        prev = comp.copy()
        np.minimum.at(comp, ea, prev[eb])
        np.minimum.at(comp, eb, prev[ea])
        while not np.array_equal(comp[comp], comp):
            comp = comp[comp]
        if np.array_equal(comp, prev):
            return rounds


def figures(data_dir: Path) -> dict[str, float]:
    inputs = json.loads(INPUTS.read_text())
    curate = {c["name"]: c for c in inputs["curate"]}
    oracle = Oracle(data_dir)
    q = oracle.con.sql
    f: dict[str, float] = {}
    try:
        for t in TABLES:
            f[f"rows.{t}"] = q(f"SELECT count(*) FROM {t}").fetchone()[0]
        f["documents.words_mean"] = q(
            "SELECT avg(len(string_split(text, ' '))) FROM documents"
        ).fetchone()[0]
        f["documents.dup_copies"] = q(
            "SELECT count(*) FROM documents WHERE text LIKE '% dup'"
        ).fetchone()[0]
        ngram = _ctes(curate["ngram"]["oracle"])
        mass, postings = q(
            f"{ngram} SELECT sum(df * (df - 1) / 2), sum(df) FROM"
            " (SELECT gram, count(*) AS df FROM inv GROUP BY gram)"
        ).fetchone()
        f["ngram.postings"] = postings
        f["ngram.pair_mass"] = mass
        f["ngram.mass_per_posting"] = mass / postings
        f["ngram.prefix_filter_on"] = int(
            mass > PREFIX_AUTO_MASS_RATIO * postings)
        f["ngram.pairs_sharing_a_gram"] = q(
            f"{ngram} SELECT count(*) FROM inter").fetchone()[0]
        f["minhash.band_candidates"] = q(
            f"{_ctes(curate['minhash']['oracle'])} SELECT count(*) FROM cand"
        ).fetchone()[0]
        for c in inputs["curate"]:
            f[f"out.{c['name']}"] = len(oracle.expected(c["oracle"])[1])
        pairs = q(curate["minhash"]["oracle"]).fetchall()
        _, comp = oracle.expected(curate["clusters"]["oracle"])
        sizes = np.unique([r[0] for r in comp], return_counts=True)[1]
        f["clusters.count"] = len(sizes)
        f["clusters.largest"] = int(sizes.max()) if len(sizes) else 0
        f["clusters.rounds"] = _cc_rounds([r[:2] for r in pairs])
        for p in inputs["pql"]:
            for key, sql in p["oracles"].items():
                suffix = "" if key == "main" else f".{key}"
                f[f"out.{p['name']}{suffix}"] = len(oracle.expected(sql)[1])
    finally:
        oracle.close()
    return f


def main(argv: list[str]) -> int:
    if not 1 <= len(argv) <= 2:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    figs = [figures(Path(d)) for d in argv]
    out_rows = [k for k in figs[0] if k.startswith("out.pql")]
    for k in figs[0]:
        if k in out_rows:
            continue
        vals = [fg[k] for fg in figs]
        ratio = f"{vals[1] / vals[0]:.3f}" if len(vals) == 2 and vals[0] else ""
        print(f"{k:32s} " + " ".join(f"{v:>14.6g}" for v in vals), ratio)
    rows = [[fg[k] for k in out_rows] for fg in figs]
    print(f"{'out.pql (115 texts): total':32s} "
          + " ".join(f"{sum(r):>14.6g}" for r in rows))
    if len(figs) == 2:
        same = sum(a == b for a, b in zip(*rows))
        within = sum(
            abs(a - b) <= 0.1 * max(a, b) for a, b in zip(*rows))
        print(f"out.pql equal rows: {same} of {len(out_rows)}; "
              f"within 10 %: {within}")
        for k, a, b in zip(out_rows, *rows):
            if abs(a - b) > 0.1 * max(a, b):
                print(f"  {k:40s} {a:>10g} {b:>10g}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
