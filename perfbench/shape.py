"""Shape of a directory of registry tables: the statistics the registry
queries' cost depends on, side by side for each directory given.

    python3 perfbench/shape.py DIR [DIR ...]
    python3 perfbench/shape.py --generate .perfbench-runs/shape DIR

``--generate OUT`` first writes the benchmark's own tables (seed 1) to
OUT and profiles them as the first column; compare them with the tables
the registry queries are tested on. README ("Registry table shape")
records one such comparison. The set-similarity and nearest-neighbour
rows grow with the row count, so compare them at equal counts.
"""

from __future__ import annotations

import argparse
import collections
import os
import sys

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import inputs  # noqa: E402


def _q(xs, p) -> float:
    return float(np.percentile(xs, p))


def profile(data_dir: str) -> dict[str, float | str]:
    import duckdb

    con = duckdb.connect()
    for name in inputs.REGISTRY_ROWS:
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM "
                f"read_parquet('{data_dir}/{name}.parquet')")

    def one(sql):
        return con.sql(sql).fetchone()

    out: dict[str, float | str] = {}
    for name in inputs.REGISTRY_ROWS:
        out[f"rows.{name}"] = one(f"SELECT count(*) FROM {name}")[0]

    # join keys: how many rows each key value carries
    for label, sql in (
        ("orders per customer", "SELECT count(*) c FROM orders GROUP BY o_custkey"),
        ("lines per order", "SELECT count(*) c FROM lineitem GROUP BY l_orderkey"),
        ("events per user", "SELECT count(*) c FROM events GROUP BY user_id"),
    ):
        mean, top, keys = one(f"SELECT avg(c), max(c), count(*) FROM ({sql})")
        out[f"keys.{label} mean"] = mean
        out[f"keys.{label} max/mean"] = top / mean
        out[f"keys.{label} keys"] = keys
    out["keys.orders with lines share"] = one(
        "SELECT count(DISTINCT l_orderkey) / (SELECT count(*) FROM orders) FROM lineitem")[0]

    for label, sql in (
        ("events.value", "SELECT value v FROM events"),
        ("orders.o_totalprice", "SELECT o_totalprice v FROM orders"),
        ("lineitem.l_extendedprice", "SELECT l_extendedprice v FROM lineitem"),
    ):
        med, mean = one(f"SELECT median(v), avg(v) FROM ({sql})")
        out[f"values.{label} median"] = med
        out[f"values.{label} mean"] = mean

    docs = con.sql("SELECT doc_id, text, lang, source, n_chars FROM documents "
                   "ORDER BY doc_id").fetchall()
    n = len(docs)
    words = [t.split() for _, t, *_ in docs]
    dup = [w[-1] == "dup" for w in words]
    body = np.array([len(w) - d for w, d in zip(words, dup)])
    counts = collections.Counter(x for w, d in zip(words, dup) for x in w[: len(w) - d])
    sets = [set(w) for w in words]
    shingles = [len({t.lower()[i:i + 8] for i in range(len(t) - 7)}) for _, t, *_ in docs]
    best = [max(len(a & b) / len(a | b) for j, b in enumerate(sets) if j != i)
            for i, a in enumerate(sets)]
    out.update({
        "docs.words min": float(body.min()),
        "docs.words median": _q(body, 50),
        "docs.words max": float(body.max()),
        "docs.vocabulary": len(counts),
        "docs.top word share": max(counts.values()) / sum(counts.values()),
        "docs.dup-suffixed share": sum(dup) / n,
        "docs.exact duplicate share": 1 - len({t for _, t, *_ in docs}) / n,
        "docs.under 400 chars share": sum(c < 400 for *_, c in docs) / n,
        "docs.8-char shingles median": _q(shingles, 50),
        "docs.best word-set jaccard median": _q(best, 50),
        "docs.best word-set jaccard = 1 share": float(np.mean(np.array(best) >= 1.0)),
        "docs.source is src<id % 20>": float(np.mean(
            [s == f"src{i % 20}" for i, _, _, s, _ in docs])),
    })
    langs = collections.Counter(lang for _, _, lang, *_ in docs)
    for lang in sorted(langs):
        out[f"docs.lang {lang} share"] = langs[lang] / n

    emb = con.sql("SELECT embedding, label FROM embeddings ORDER BY vec_id").fetchall()
    vec = np.array([e for e, _ in emb], dtype=np.float64)
    label = np.array([lab for _, lab in emb])
    unit = vec / np.linalg.norm(vec, axis=1, keepdims=True)
    cos = unit @ unit.T
    same = label[:, None] == label[None, :]
    off = ~np.eye(len(emb), dtype=bool)
    np.fill_diagonal(cos, -np.inf)
    nn = cos.max(axis=1)
    out.update({
        "emb.dim": vec.shape[1],
        "emb.norm mean": float(np.linalg.norm(vec, axis=1).mean()),
        "emb.component std": float(vec.std()),
        "emb.nearest cosine median": _q(nn, 50),
        "emb.nearest cosine max": float(nn.max()),
        "emb.nearest cosine >= 0.9 share": float(np.mean(nn >= 0.9)),
        "emb.labels": len(set(label.tolist())),
        "emb.same-label minus other cosine": float(
            cos[same & off].mean() - cos[~same].mean()),
    })
    con.close()
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("dirs", nargs="*")
    ap.add_argument("--generate", metavar="OUT",
                    help="write the benchmark's tables (seed 1) here and profile them first")
    args = ap.parse_args()
    dirs = list(args.dirs)
    if args.generate:
        inputs.write_registry_tables(args.generate, 1)
        dirs.insert(0, args.generate)
    if not dirs:
        ap.error("give at least one directory, or --generate")
    cols = [profile(d) for d in dirs]
    print(f"{'statistic':<44}" + "".join(f" {os.path.basename(d.rstrip('/')):>12}" for d in dirs))
    for key in dict.fromkeys(k for c in cols for k in c):
        cells = []
        for c in cols:
            v = c.get(key, "-")
            cells.append(f" {v:>12.4g}" if isinstance(v, (int, float)) else f" {v:>12}")
        print(f"{key:<44}" + "".join(cells))
    return 0


if __name__ == "__main__":
    sys.exit(main())
