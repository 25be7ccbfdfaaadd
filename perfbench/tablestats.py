"""Shape statistics of a directory of gate tables, the figures gen.py is set
from (perfbench/README.md, "Input tables" cites them).

    python3 perfbench/tablestats.py DIR [DIR ...]

Prints one column per directory, so generated tables can be set side by side
with the gate's own tables at the same scale factor.
"""

from __future__ import annotations

import sys

STATS = {
    "documents": [
        ("rows", "count(*)"),
        ("words_min", "min(len(string_split(text, ' ')))"),
        ("words_mean", "avg(len(string_split(text, ' ')))"),
        ("words_max", "max(len(string_split(text, ' ')))"),
        ("chars_mean", "avg(n_chars)"),
        ("dup_share", "avg((text LIKE '% dup')::int)"),
        ("distinct_text_share", "count(DISTINCT text) / count(*)"),
        ("lang_en_share", "avg((lang = 'en')::int)"),
        ("langs", "count(DISTINCT lang)"),
        ("sources", "count(DISTINCT source)"),
    ],
    "events": [
        ("rows", "count(*)"),
        ("users", "count(DISTINCT user_id)"),
        ("user_max", "max(user_id)"),
        ("days", "count(DISTINCT date_trunc('day', ts))"),
        ("value_mean", "avg(value)"),
        ("value_max", "max(value)"),
        ("event_types", "count(DISTINCT event_type)"),
        ("props_k_distinct", "count(DISTINCT props)"),
        ("orphan_share",
         "avg((user_id NOT IN (SELECT c_custkey FROM customer))::int)"),
    ],
    "lineitem": [
        ("rows", "count(*)"),
        ("orderkeys", "count(DISTINCT l_orderkey)"),
        ("orderkey_max", "max(l_orderkey)"),
        ("partkeys", "count(DISTINCT l_partkey)"),
        ("suppkeys", "count(DISTINCT l_suppkey)"),
        ("linenumber_max", "max(l_linenumber)"),
        ("quantity_mean", "avg(l_quantity)"),
        ("price_mean", "avg(l_extendedprice)"),
        ("discount_mean", "avg(l_discount)"),
        ("tax_mean", "avg(l_tax)"),
        ("shipdate_days", "count(DISTINCT l_shipdate)"),
        ("returnflags", "count(DISTINCT l_returnflag)"),
    ],
    "customer": [
        ("rows", "count(*)"),
        ("custkey_max", "max(c_custkey)"),
        ("nations", "count(DISTINCT c_nationkey)"),
        ("acctbal_mean", "avg(c_acctbal)"),
        ("segments", "count(DISTINCT c_mktsegment)"),
    ],
    "embeddings": [
        ("rows", "count(*)"),
        ("dim", "max(len(embedding))"),
        ("labels", "count(DISTINCT label)"),
        ("norm_mean", "avg(sqrt(list_sum(list_transform(embedding, x -> x * x))))"),
    ],
}


def table_stats(data_dir: str) -> dict[str, float]:
    import duckdb

    con = duckdb.connect()
    for t in STATS:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    out = {}
    for t, stats in STATS.items():
        row = con.sql(f"SELECT {', '.join(e for _, e in stats)} FROM {t}").fetchone()
        out.update({f"{t}.{name}": float(v) for (name, _), v in zip(stats, row)})
    out.update(embedding_geometry(f"{data_dir}/embeddings.parquet"))
    return out


def embedding_geometry(path: str) -> dict[str, float]:
    """Mean cosine of a vector to its label's mean direction (near 0 when the
    label says nothing about the vector) and to its nearest neighbour."""
    import numpy as np
    import pyarrow.parquet as pq

    t = pq.read_table(path)
    v = np.array(t.column("embedding").to_pylist())
    label = t.column("label").to_numpy()
    to_centre = []
    for k in np.unique(label):
        m = v[label == k].mean(axis=0)
        to_centre.append((v[label == k] @ (m / np.linalg.norm(m))).mean())
    g = v @ v.T
    np.fill_diagonal(g, -2.0)
    return {"embeddings.cos_to_label_centre": float(np.mean(to_centre)),
            "embeddings.nn_cos_mean": float(g.max(axis=1).mean())}


if __name__ == "__main__":
    cols = [table_stats(d) for d in sys.argv[1:]]
    print(f"{'':<32}" + "".join(f"{d[-24:]:>26}" for d in sys.argv[1:]))
    for k in cols[0]:
        print(f"{k:<32}" + "".join(f"{c[k]:>26.6g}" for c in cols))
