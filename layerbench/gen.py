"""Seeded input generators for the layer benchmark.

Every generator is a pure function of (seed, size): the same seed writes
byte-identical files. Nothing here reads the repository's test data; the
program under test only ever sees the files written by these functions.

- `tables`: the catalog's star schema plus `events`, `documents` and
  `embeddings`, with the column names, physical parquet types and value
  domains the catalog queries are written against.
- `landing`: the medallion pipeline's three landing sources (banks,
  claims, employees) as delimited text with schema drift between the
  files of one source.
- `corpus`: `documents` and `embeddings` augmented k-fold the way
  `graft.tools.ScaleData` does it, so near-duplicate clusters grow with k.
"""
import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a agg batch big column customer data dup fast filter group hash "
         "join key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.38, 0.16, 0.16, 0.15, 0.15]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EMB_DIM = 64
# the corpus's vocabulary: 4 096 made-up words, the same for every seed. It
# is large enough that two unrelated documents share no word 3-gram, no
# 20-character winnow window and no near SimHash, so the only
# near-duplicate clusters are the planted ones and every seed gives the
# operators the same cluster structure to resolve
SYLLABLES = ("ba be bi bo bu da de di do du ka ke ki ko ku la le li lo lu "
             "ma me mi mo mu na ne ni no nu ra re ri ro ru sa se si so su "
             "ta te ti to tu va ve vi vo vu za ze zi zo zu").split()
CORPUS_WORDS = [a + b + c for a in SYLLABLES[:16] for b in SYLLABLES
                for c in SYLLABLES[:16]][:4096]


def _write(table, path):
    pq.write_table(table, path, compression="snappy")
    return os.path.getsize(path)


def _days(rng, n, start, end):
    span = (end - start).days
    base = np.datetime64(start.isoformat(), "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _documents(rng, n, vocabulary):
    """Random word texts; every 16th re-emits a random earlier original
    (never an earlier edit, so clusters do not chain) with a one-word
    edit, so the corpus carries real near-duplicates. Lengths are a
    shuffle of one fixed spread of 10..99 words, so every seed gives the
    same amount of text and the same number of planted near-duplicates."""
    lengths = rng.permutation([10 + (j * 89) % 90 for j in range(n)])
    texts = []
    for i in range(n):
        if i % 16 == 15:
            j = int(rng.integers(0, i))
            words = texts[j - 1 if j % 16 == 15 else j].split()
            words = words + ["dup"] if rng.random() < 0.5 else words[:-1]
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(rng.choice(vocabulary, int(lengths[i]))))
    return texts


def _doc_table(rng, n, vocabulary=WORDS):
    texts = _documents(rng, n, vocabulary)
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _emb_table(rng, n):
    v = rng.standard_normal((n, EMB_DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def tables(out, seed):
    """Star schema + events + corpus with sf0.001's row counts."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = 150, 10, 200
    n_ord, n_li, n_ev = 1500, 6000, 1000
    rows, nbytes = 0, 0

    def put(name, table):
        nonlocal rows, nbytes
        rows += table.num_rows
        nbytes += _write(table, f"{out}/{name}.parquet")

    put("region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string())}))
    put("nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}))
    put("customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust))}))
    put("supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2))}))
    put("part", pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array([f"{rng.choice(PART_ADJ)} {rng.choice(PART_NOUN)}"
                            for _ in range(n_part)]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(
            np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2))}))
    put("orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n_ord), 2)),
        "o_orderdate": pa.array(_days(rng, n_ord, datetime.date(1995, 1, 1),
                                      datetime.date(2001, 8, 1)),
                                pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord))}))
    put("lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105000, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_li)),
        "l_shipdate": pa.array(_days(rng, n_li, datetime.date(1995, 1, 2),
                                     datetime.date(2001, 11, 4)),
                               pa.timestamp("us"))}))
    month_us = 30 * 86400 * 10**6
    ts = np.sort(rng.integers(0, month_us, n_ev))
    put("events", pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us")
                       + ts.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 15, n_ev), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev)),
        "value": pa.array(np.round(np.maximum(rng.exponential(50, n_ev), 0.01), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])}))
    put("documents", _doc_table(rng, 500))
    put("embeddings", _emb_table(rng, 500))
    return {"rows": rows, "bytes": nbytes}


def corpus(out, seed, docs, copies):
    """`docs` base documents and embeddings, each emitted `copies` times:
    copy 0 verbatim, copy k with a " vk" suffix (embeddings: +0.001·k on
    dimension 0), exactly `ScaleData`'s augmentation."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    base = _doc_table(rng, docs, CORPUS_WORDS)
    max_id = docs
    texts = base.column("text").to_pylist()
    ids, out_texts, langs, sources = [], [], [], []
    for k in range(copies):
        ids.extend(i + k * max_id for i in range(docs))
        out_texts.extend(texts if k == 0 else [f"{t} v{k}" for t in texts])
        langs.extend(base.column("lang").to_pylist())
        sources.extend(base.column("source").to_pylist())
    doc_t = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(out_texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.array([len(t) for t in out_texts], pa.int64())})
    emb = _emb_table(rng, docs)
    vecs = np.stack(emb.column("embedding").to_numpy(zero_copy_only=False))
    all_vecs = np.concatenate([vecs] * copies).astype(np.float32)
    all_vecs[:, 0] += np.repeat(np.arange(copies, dtype=np.float32) * 0.001, docs)
    emb_t = pa.table({
        "vec_id": pa.array(np.arange(docs * copies), pa.int64()),
        "embedding": pa.array(list(all_vecs), pa.list_(pa.float32())),
        "label": pa.array(np.tile(emb.column("label").to_numpy(), copies),
                          pa.int32())})
    nbytes = (_write(doc_t, f"{out}/documents.parquet")
              + _write(emb_t, f"{out}/embeddings.parquet"))
    return {"rows": doc_t.num_rows + emb_t.num_rows, "bytes": nbytes}


# --------------------------------------------------------------- landing

BANK_WORDS = ["ALFA", "BETA", "GAMA", "DELTA", "SIGMA", "OMEGA", "PRIMUS",
              "NOVO", "CENTRAL", "UNIÃO", "AÇORES", "CRÉDITO", "SUL", "NORTE"]
BANK_SUFFIX = ["", " - PRUDENCIAL", " INSTITUIÇÃO DE PAGAMENTO", " S.A.",
               " SOCIEDADE DE CRÉDITO, FINANCIAMENTO E INVESTIMENTO", " SA"]
CATEGORIES = ["Bancos", "Financeiras", "Cooperativas", "Pagamentos"]
BANK_SEGMENTS = ["S1", "S2", "S3", "S4", "S5"]


def _dec(x):
    """Decimal comma, the reference's landing format."""
    return f"{x:.2f}".replace(".", ",")


def _csv_cell(s, delim):
    if delim == "," and ("," in s or '"' in s):
        return '"' + s.replace('"', '""') + '"'
    return s


def _write_delimited(path, header, rows, delim):
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        f.write(delim.join(_csv_cell(h, delim) for h in header) + "\n")
        for r in rows:
            f.write(delim.join(_csv_cell(c, delim) for c in r) + "\n")
    return os.path.getsize(path)


def landing(out, seed, banks):
    """Three sources, two files each, schema drifting between the files.

    banks: tab, `Segmento CNPJ Nome` (+ `Tipo` in file 2);
    claims: comma, accented and en-dash headers, quoted decimal commas,
      `Quantidade de clientes – SCR` only in file 1;
    employees: pipe, file 1 lacks `Segmento`, file 2 lacks `CNPJ`.
    Returns rows, bytes and the per-source file lists."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 3])
    cnpjs = [f"{c:08d}" for c in rng.choice(10**8, banks, replace=False)]
    names = []
    for i in range(banks):
        w = rng.choice(BANK_WORDS, 2, replace=False)
        names.append(f"BANCO {w[0]} {w[1]} {i}")
    segs = rng.choice(BANK_SEGMENTS, banks)
    files = {"banks": [], "claims": [], "employees": []}
    rows, nbytes = 0, 0

    def put(source, name, header, body, delim):
        nonlocal rows, nbytes
        path = f"{out}/{name}"
        nbytes += _write_delimited(path, header, body, delim)
        rows += len(body)
        files[source].append(path)

    half = banks // 2
    bank_rows = [[segs[i], cnpjs[i], f"{names[i]}  {names[i].title()}"
                  + BANK_SUFFIX[int(rng.integers(0, len(BANK_SUFFIX)))]]
                 for i in range(banks)]
    put("banks", "banks_1.tsv", ["Segmento", "CNPJ", "Nome"],
        bank_rows[:half], "\t")
    put("banks", "banks_2.tsv", ["Segmento", "CNPJ", "Nome", "Tipo"],
        [r + ["Múltiplo"] for r in bank_rows[half:]], "\t")

    n_claims = banks * 8
    claim_rows = []
    for j in range(n_claims):
        i = int(rng.integers(0, banks))
        suffix = " (conglomerado)" if rng.random() < 0.3 else ""
        claim_rows.append([
            CATEGORIES[int(rng.integers(0, len(CATEGORIES)))], cnpjs[i],
            names[i] + suffix, _dec(rng.uniform(0, 100)),
            str(int(rng.integers(0, 5000))), str(int(rng.integers(1, 10**6)))])
    claim_hdr = ["Categoria", "CNPJ IF", "Instituição financeira", "Índice",
                 "Quantidade total de reclamações",
                 "Quantidade de clientes – SCR"]
    cut = n_claims // 2
    put("claims", "claims_1.csv", claim_hdr, claim_rows[:cut], ",")
    put("claims", "claims_2.csv", claim_hdr[:5],
        [r[:5] for r in claim_rows[cut:]], ",")

    emp_hdr = ["employer_name", "reviews_count", "Geral",
               "Remuneração e benefícios", "Cultura e valores"]
    emp_rows = []
    for i in range(banks):
        if rng.random() < 0.7:
            emp_rows.append([names[i], str(int(rng.integers(1, 900))),
                             _dec(rng.uniform(1, 5)), _dec(rng.uniform(1, 5)),
                             _dec(rng.uniform(1, 5)), cnpjs[i], segs[i]])
    cut = len(emp_rows) // 2
    put("employees", "employees_1.psv", emp_hdr + ["CNPJ"],
        [r[:6] for r in emp_rows[:cut]], "|")
    put("employees", "employees_2.psv", emp_hdr + ["Segmento"],
        [r[:5] + [r[6]] for r in emp_rows[cut:]], "|")
    return {"rows": rows, "bytes": nbytes, "files": files}
