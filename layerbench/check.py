"""Correctness checks for the layer benchmark, run after the timed window.

The JVM side writes each op's first-pass output as parquet, the way
`graft.Verify` writes a result, under outputs/<op>/, and the entries'
DuckDB oracles to outputs/oracles.json. Each check returns
{op name: error message or None}.

- catalog entries: the entry's DuckDB oracle from `SparkEntry.oracleSql`,
  compared under `tools/check_correctness.py`'s rules.
- medallion gold: an independent DuckDB aggregate over the landing files.
- corpus operators: invariants recomputed in Python from the input files.
"""
import glob
import hashlib
import json
import math
import os
import re
import sys

import pandas as pd
import pyarrow.parquet as pq


def load_outputs(outputs_dir):
    """{op name: output directory} for every op that wrote an output, and
    {op name: oracle SQL}."""
    outs = {}
    for d in sorted(glob.glob(os.path.join(outputs_dir, "*", ""))):
        outs[os.path.basename(os.path.dirname(d))] = d
    with open(os.path.join(outputs_dir, "oracles.json"), encoding="utf-8") as f:
        return outs, json.load(f)


def frame(out_dir):
    """The output as pandas, read as check_correctness reads Verify's."""
    return pd.concat([pd.read_parquet(p) for p in
                      sorted(glob.glob(os.path.join(out_dir, "*.parquet")))],
                     ignore_index=True)


def check_catalog(outputs, oracles, tables_dir, root):
    sys.path.insert(0, os.path.join(root, "tools"))
    import check_correctness as cc
    import duckdb
    con = duckdb.connect()
    for t in cc.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
    errors = {}
    for name, out_dir in outputs.items():
        if name not in oracles:
            errors[name] = "no oracle SQL for this entry"
            continue
        try:
            err = cc.compare(name, cc.oracle_frame(con, oracles[name]),
                             cc.spark_frame(out_dir))
        except Exception as e:  # oracle error or array-typed cell
            err = f"{type(e).__name__}: {e}"
        errors[name] = err
    return errors


# ------------------------------------------------------------- medallion

GOLD_KEYS = ["Nome do Banco", "CNPJ", "Classificação"]
GOLD_SQL = """
WITH banks AS (
  SELECT "CNPJ" AS cnpj FROM read_csv({banks}, delim='\t', header=true,
    all_varchar=true, union_by_name=true, quote='"')
), claims AS (
  SELECT "CNPJ IF" AS cnpj,
    regexp_replace("Instituição financeira", ' \\(conglomerado\\)', '', 'g') AS nome,
    "Categoria" AS categoria, replace("Índice", ',', '.') AS indice,
    "Quantidade total de reclamações" AS reclamacoes,
    "Quantidade de clientes – SCR" AS clientes
  FROM read_csv({claims}, delim=',', header=true, all_varchar=true,
    union_by_name=true, quote='"')
), emp AS (
  SELECT employer_name AS nome, replace("Geral", ',', '.') AS geral,
    replace("Remuneração e benefícios", ',', '.') AS salario
  FROM read_csv({employees}, delim='|', header=true, all_varchar=true,
    union_by_name=true, quote='"')
)
SELECT c.nome AS "Nome do Banco", c.cnpj AS "CNPJ", c.categoria AS "Classificação",
  round(avg(try_cast(c.clientes AS DOUBLE))) AS "Quantidade de Clientes do Bancos",
  avg(try_cast(c.indice AS DOUBLE)) AS "Índice de reclamações",
  avg(try_cast(c.reclamacoes AS DOUBLE)) AS "Quantidade de reclamações",
  avg(try_cast(e.geral AS DOUBLE)) AS "Índice de satisfação dos funcionários dos bancos",
  avg(try_cast(e.salario AS DOUBLE))
    AS "Índice de satisfação com salários dos funcionários dos bancos"
FROM claims c JOIN banks b USING (cnpj) LEFT JOIN emp e USING (nome)
GROUP BY ALL
"""


def _close(a, b):
    a = None if a is None or (isinstance(a, float) and math.isnan(a)) else a
    b = None if b is None or (isinstance(b, float) and math.isnan(b)) else b
    if a is None or b is None:
        return a is None and b is None
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)


def check_medallion(outputs, manifest):
    import duckdb
    if "gold" not in outputs:
        return {"gold": "no gold output"}
    gold = frame(outputs["gold"])
    files = {k: "[" + ", ".join(f"'{p}'" for p in v) + "]"
             for k, v in manifest["files"].items()}
    cur = duckdb.connect().execute(GOLD_SQL.format(**files))
    names = [d[0] for d in cur.description]
    want = {tuple(r[:3]): dict(zip(names, r)) for r in cur.fetchall()}
    got = {tuple(r[k] for k in GOLD_KEYS): r for r in _rows(gold)}
    if set(want) != set(got):
        return {"gold": f"groups differ: oracle={len(want)} spark={len(got)}"}
    for key, w in want.items():
        for col in names[3:]:
            if not _close(got[key][col], w[col]):
                return {"gold": f"{key} {col}: oracle={w[col]!r} "
                                f"spark={got[key][col]!r}"}
    return {"gold": None}


# ---------------------------------------------------------------- corpus

def _rows(df):
    """Rows as dicts of Python values, NaN (pandas' null) as None."""
    return [{k: (None if isinstance(v, float) and math.isnan(v) else v)
             for k, v in r.items()}
            for r in df.astype(object).to_dict("records")]


def check_corpus(outputs, corpus_dir, ivf_queries, ivf_k):
    docs = pq.read_table(f"{corpus_dir}/documents.parquet").to_pydict()
    text = dict(zip(docs["doc_id"], docs["text"]))
    n_vecs = pq.read_metadata(f"{corpus_dir}/embeddings.parquet").num_rows
    errors = {op: None for op in outputs}

    def fail(op, msg):
        if errors.get(op) is None:
            errors[op] = msg

    def rows(op):
        return _rows(frame(outputs[op])) if op in outputs else None

    op = "by_fingerprint"
    rs = rows(op)
    if rs is not None:
        fps = {i: hashlib.md5(re.sub(r"\s+", " ", t.lower()).strip()
                              .encode()).hexdigest()
               for i, t in text.items()}
        if len(rs) != len(text):
            fail(op, f"{len(rs)} rows for {len(text)} documents")
        survivors = sum(1 for r in rs if not r["is_duplicate"])
        if survivors != len(set(fps.values())):
            fail(op, f"{survivors} survivors for "
                     f"{len(set(fps.values()))} distinct fingerprints")
        if any(fps[r["doc_id"]] != r["fp"] for r in rs):
            fail(op, "fingerprint differs from md5 of the normalized text")

    op = "minhash_near_duplicates"
    rs = rows(op)
    if rs is not None:
        def shingles(t):
            w = t.split()
            return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}
        for r in rs:
            a, b = shingles(text[r["id1"]]), shingles(text[r["id2"]])
            j = len(a & b) / len(a | b)
            if not (r["id1"] < r["id2"] and j >= 0.7
                    and abs(round(j, 6) - r["jaccard"]) <= 1e-6):
                fail(op, f"pair {r['id1']},{r['id2']}: jaccard "
                         f"{r['jaccard']} vs recomputed {j}")
                break

    for op, complete in (("simhash_clusters", True), ("winnow_clusters", False)):
        rs = rows(op)
        if rs is None:
            continue
        label = {r["id"]: r["cluster_id"] for r in rs}
        if complete and set(label) != set(text):
            fail(op, f"{len(label)} labelled ids for {len(text)} documents")
        if any(c > i or label.get(c) != c for i, c in label.items()):
            fail(op, "a cluster id is not the minimum id of its cluster")

    op = "ivf_top_k"
    rs = rows(op)
    if rs is not None:
        by_q = {}
        for r in rs:
            by_q.setdefault(r["query_id"], []).append(r)
        if sorted(by_q) != list(range(ivf_queries)):
            fail(op, f"answers for {len(by_q)} of {ivf_queries} queries")
        for q, qs in by_q.items():
            ids = [r["neighbor_id"] for r in qs]
            if (sorted(r["rank"] for r in qs) != list(range(1, ivf_k + 1))
                    or len(set(ids)) != ivf_k
                    or not all(ivf_queries <= i < n_vecs for i in ids)):
                fail(op, f"query {q}: not {ivf_k} distinct corpus ids")
                break
    return errors
