"""Seeded input generator for the benchmark.

Every input the library sees is made here, from the run's seed, inside the
run directory:

* extractor JSON documents shaped like the reference's
  `consolidado_municipios.DS0.json` (FIXTURES.md A1): records under the top
  level object's first key or a bare top-level list, quoted "INF"/"-INF"/"NaN"
  tokens, an `undefined` column, both `Geográfico.Município` and `Município`
  headers, case/space/accent noise in names and missing optional columns;
* the IBGE dimension CSV in a `;` variant with `UF;COD;NOME` headers and a `,`
  variant whose odd headers exercise the positional fallback (FIXTURES.md A2);
* `events` parquet deliveries in event-time order, a share of them full
  re-deliveries of an earlier file (stream_landing);
* TPC-H-shaped tables with the schemas and value ranges of the engine's test
  tables (FIXTURES.md B) for the headline queries.

Each input function returns a manifest (paths, record counts, byte sizes) that the
harness and the output checks read.
"""
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- ETL inputs

PREFIXES = ["São", "Santa", "Santo", "Bom", "Águas de", "Ribeirão", "Campos do",
            "Porto", "Vila", "Monte", "Nova", "Alto", "Barra do", "Itá", "Pirá",
            "Jaú", "Guará", "Ilha", "Serra", "Lagoa"]
SUFFIXES = ["Paulo", "José", "Jordão", "Pedro", "Vicente", "Bárbara", "Alegre",
            "Preto", "Branco", "Lindóia", "Carlos", "Roque", "Sebastião",
            "Luís", "Verde", "Azul", "Mirim", "Açu", "Grande", "Feliz", "Bela",
            "Fé", "Conceição", "Itaú", "Ipê", "Cândido", "Tietê", "Paraná"]
GRUPAMENTOS = ["Agropecuária", "Indústria", "Construção", "Comércio", "Serviços"]
ATIVIDADES = ["Agricultura, pecuária, produção florestal, pesca e aquicultura",
              "Indústrias de transformação", "Construção de edifícios",
              "Comércio varejista", "Transporte, armazenagem e correio",
              "Alojamento e alimentação", "Informação e comunicação",
              "Atividades financeiras"]
SECOES = ["Agricultura, Pecuária, Produção Florestal, Pesca e Aquicultura",
          "Indústrias de Transformação", "Construção", "Comércio",
          "Transporte", "Alojamento e Alimentação"]
ACCENTS = str.maketrans("ãáâàéêíóôõúçÃÁÂÀÉÊÍÓÔÕÚÇ", "aaaaeeioooucAAAAEEIOOOUC")
MUNI_KEYS = ("Geográfico.Município", "Município")
TOKENS = ("INF", "-INF", "NaN")


def municipalities(rng):
    names = sorted({f"{p} {s}" for p in PREFIXES for s in SUFFIXES})
    rng.shuffle(names)
    return names


def write_dim(rng, names, out_dir):
    """Both IBGE CSV variants; a few names are left out so their facts get the
    `codigo_ibge = 0` fallback. Returns {variant: path}."""
    rows = []
    for i, name in enumerate(names):
        if rng.random() < 0.05:
            continue
        shown = name.upper() if rng.random() < 0.2 else name
        if rng.random() < 0.2:
            shown = "  " + shown + " "
        rows.append(("SP", str(3500000 + i * 7), shown))
    paths = {}
    semi = os.path.join(out_dir, "de_para_ibge_semicolon.csv")
    with open(semi, "w", encoding="utf-8") as f:
        f.write("UF;COD;NOME\n")
        f.writelines(f'{uf};{cod};"{nome}"\n' for uf, cod, nome in rows)
    paths["semicolon"] = semi
    comma = os.path.join(out_dir, "de_para_ibge_comma.csv")
    with open(comma, "w", encoding="utf-8") as f:
        f.write("sigla,codigo,nome_municipio\n")
        f.writelines(f'{uf},{cod},"{nome}"\n' for uf, cod, nome in rows)
    paths["comma"] = comma
    return paths


def noisy(rng, name):
    r = rng.random()
    if r < 0.10:
        return "  " + name.lower() + " "
    if r < 0.15:
        return name.upper()
    if r < 0.18:
        return name.translate(ACCENTS)  # accent noise: misses the dimension
    return name


def number_or_token(rng, value, token_share=0.08):
    return rng.choice(TOKENS) if rng.random() < token_share else value


def skeleton(rng, names, per_muni=8):
    """The raw municipality strings of one document, one per record. A
    re-send keeps its original's skeleton: the extractor spells a month's
    names the same way each time it is pulled."""
    return [noisy(rng, n) if rng.random() > 0.005 else None
            for n in names for _ in range(per_muni)]


def extractor_doc(rng, rows, variant):
    """One monthly extractor document as a JSON-able object. `rows` and
    `variant` fix the shape so a re-send keeps it; the measures are drawn
    anew (a corrected re-send)."""
    muni_key = MUNI_KEYS[variant["muni_key"]]
    omit = set(variant["omit"])
    records = []
    for k, muni in enumerate(rows):
        admitidos = rng.randint(0, 400)
        desligados = rng.randint(0, 400)
        rec = {}
        if variant["undefined"]:
            rec["undefined"] = round(rng.uniform(-50, 50), 12)
        rec[muni_key] = muni
        rec["Grande Grupamento Atividade Econômica"] = (
            GRUPAMENTOS[k % len(GRUPAMENTOS)] if rng.random() > 0.02 else None)
        rec["Atividade Econômica"] = ATIVIDADES[k % len(ATIVIDADES)]
        rec["CNAE 2.0 Seção"] = SECOES[k % len(SECOES)]
        rec["CNAE 2.0 Divisão"] = f"Divisão {k % 13}"
        rec["CNAE 2.0 Grupo"] = f"Grupo {k % 29}"
        if "CNAE 2.0 Classe" not in omit:
            rec["CNAE 2.0 Classe"] = f"Classe {k % 57}"
        if "CNAE 2.0 Subclasse" not in omit:
            rec["CNAE 2.0 Subclasse"] = f"Subclasse {k}"
        rec["Admitidos"] = admitidos if rng.random() > 0.02 else None
        rec["Desligados"] = float(desligados)
        rec["Saldo"] = admitidos - desligados
        rec["Estoque"] = rng.randint(0, 50000)
        rec["Variação Relativa"] = number_or_token(
            rng, round(rng.uniform(-100, 100), 9))
        if "Tempo de Emprego" not in omit:
            rec["Tempo de Emprego"] = number_or_token(
                rng, round(rng.uniform(0, 240), 6))
        records.append(rec)
    return records if variant["top_list"] else {"DS0": records}


# Document shapes, assigned to new months in turn so every seed gets the same
# mix: (municipality header, bare top-level list, `undefined` column,
# optional columns left out).
SHAPES = [
    {"muni_key": 0, "top_list": False, "undefined": True, "omit": []},
    {"muni_key": 1, "top_list": True, "undefined": False,
     "omit": ["Tempo de Emprego"]},
    {"muni_key": 1, "top_list": False, "undefined": True,
     "omit": ["CNAE 2.0 Classe", "CNAE 2.0 Subclasse"]},
    {"muni_key": 0, "top_list": True, "undefined": True, "omit": []},
]


def write_doc(path, doc):
    with open(path, "w", encoding="utf-8") as f:
        json.dump(doc, f, ensure_ascii=False)
    return os.path.getsize(path)


def etl_inputs(seed, out_dir, *, n_muni, docs_spec):
    """Monthly documents described by `docs_spec`: a list of
    (name, ano, mes, base) where `base` names an earlier document whose
    municipality set and shape a re-send keeps (values change: a corrected
    re-send). Returns the manifest."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    all_names = municipalities(rng)
    dims = write_dim(rng, all_names, out_dir)
    docs, shapes = [], {}
    for name, ano, mes, base in docs_spec:
        if base is None:
            muni = sorted(rng.sample(all_names, n_muni))
            shape = SHAPES[sum(d["resend_of"] is None for d in docs) % len(SHAPES)]
            shapes[name] = (skeleton(rng, muni), shape)
        else:
            shapes[name] = shapes[base]
        rows, variant = shapes[name]
        path = os.path.join(out_dir, f"{name}.json")
        size = write_doc(path, extractor_doc(rng, rows, variant))
        docs.append({"name": name, "path": path, "ano": ano, "mes": mes,
                     "records": len(rows), "bytes": size, "resend_of": base,
                     "dim": "semicolon" if rng.random() < 0.5 else "comma"})
    for d in docs:
        d["dim_path"] = dims[d["dim"]]
    return {"dims": dims, "docs": docs}


def months(start_year, n):
    return [(start_year + (i // 12), i % 12 + 1) for i in range(n)]


def backfill_inputs(seed, out_dir):
    """One pass: three new months, and a corrected re-send of one of them
    after its original."""
    rng = random.Random(seed ^ 0xB4C)
    spec = [(f"m{ano}{mes:02d}", ano, mes, None) for ano, mes in months(2021, 3)]
    orig = rng.choice(spec[:2])
    spec.insert(rng.randint(spec.index(orig) + 1, 3),
                (f"{orig[0]}_resend", orig[1], orig[2], orig[0]))
    return etl_inputs(seed, out_dir, n_muni=120, docs_spec=spec)


def redelivery_inputs(seed, out_dir):
    """12 months of history (loaded untimed in set-up); one pass is four
    deliveries: three re-sends of history months (they must load 0 rows)
    and one new month, in seeded order."""
    rng = random.Random(seed ^ 0x2ED)
    hist = [(f"h{a}{m:02d}", a, m, None) for a, m in months(2020, 12)]
    new = [(f"n{a}{m:02d}", a, m, None) for a, m in months(2021, 1)]
    resend = [(f"{h[0]}_resend", h[1], h[2], h[0]) for h in rng.sample(hist, 3)]
    deliveries = resend + new
    rng.shuffle(deliveries)
    man = etl_inputs(seed, out_dir, n_muni=120, docs_spec=hist + deliveries)
    hist_names = {h[0] for h in hist}
    for d in man["docs"]:
        d["history"] = d["name"] in hist_names
    return man


# ------------------------------------------------------------ events inputs

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def events_table(np_rng, first_id, n, t0_us, span_us, n_users=1500):
    ts = np.sort(np_rng.integers(t0_us, t0_us + span_us, n))
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(np_rng.integers(0, n_users, n), pa.int64()),
        "event_type": pa.array(np_rng.choice(EVENT_TYPES, n)),
        "value": pa.array(np.round(np_rng.uniform(0, 500, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in np_rng.integers(0, 100, n)]),
    })


def stream_inputs(seed, out_dir, n_deliveries=4, per_delivery=4000):
    """One pass: deliveries in event-time order, each covering the next
    hour; one of the four (the third or fourth) is a full re-delivery of an
    earlier file."""
    np_rng = np.random.default_rng(seed)
    rng = random.Random(seed ^ 0x57E)
    os.makedirs(out_dir, exist_ok=True)
    hour = 3_600_000_000
    t0 = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
    redeliver = {rng.randrange(2, n_deliveries)}
    out, fresh = [], []
    for k in range(n_deliveries):
        path = os.path.join(out_dir, f"delivery_{k:03d}.parquet")
        if k in redeliver:
            src = rng.choice(fresh)
            with open(src["path"], "rb") as f, open(path, "wb") as g:
                g.write(f.read())
            out.append({"path": path, "records": src["records"],
                        "bytes": os.path.getsize(path), "resend_of": src["path"]})
            continue
        idx = len(fresh)
        t = events_table(np_rng, idx * per_delivery, per_delivery,
                         t0 + idx * hour, hour)
        t = t.set_column(1, "ts", t.column("ts").cast(pa.timestamp("us", tz="UTC")))
        pq.write_table(t, path)
        d = {"path": path, "records": per_delivery,
             "bytes": os.path.getsize(path), "resend_of": None}
        fresh.append(d)
        out.append(d)
    return {"deliveries": out}


# ------------------------------------------------------------- query tables

WORDS = ("a the spark line column order small sort fast value scan hash slow "
         "group batch agg filter query big key window row part table stream "
         "merge data join vector customer").split()
LANGS = ["en"] * 5 + ["de", "es", "fr", "zh"]


def tpch_tables(seed, out_dir, scale):
    """The ten test tables at `scale` (1.0 = the engine's sf0.1 row counts)."""
    r = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(15000 * scale), int(1000 * scale), int(20000 * scale)
    n_ord, n_li = int(150000 * scale), int(600000 * scale)
    n_ev, n_doc, n_emb = int(100000 * scale), int(5000 * scale), int(2000 * scale)
    day_us = 86_400_000_000
    d1995 = 788_918_400_000_000  # 1995-01-01
    tables = {
        "region": {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                   "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE",
                                       "MIDDLE EAST"])},
        "nation": {"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                   "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                   "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)},
        "customer": {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(r.integers(0, 25, n_cust, dtype=np.int32)),
            "c_acctbal": pa.array(np.round(r.uniform(-999.99, 9999.99, n_cust), 2)),
            "c_mktsegment": pa.array(r.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
                n_cust))},
        "supplier": {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(r.integers(0, 25, n_supp, dtype=np.int32)),
            "s_acctbal": pa.array(np.round(r.uniform(-999.99, 9999.99, n_supp), 2))},
        "part": {
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": pa.array([" ".join(p) for p in zip(
                r.choice(["large", "hot", "blue", "small", "red"], n_part),
                r.choice(["ring", "bolt", "nut", "gear", "pipe"], n_part))]),
            "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, n_part)]),
            "p_type": pa.array(r.choice(["LARGE", "ECONOMY", "STANDARD", "SMALL",
                                         "MEDIUM", "PROMO"], n_part)),
            "p_size": pa.array(r.integers(1, 51, n_part, dtype=np.int32)),
            "p_retailprice": pa.array(np.round(900 + np.arange(n_part) % 1000 * 0.1, 2))},
        "orders": {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(r.integers(0, n_cust, n_ord, dtype=np.int64)),
            "o_orderstatus": pa.array(r.choice(["F", "O", "P"], n_ord)),
            "o_totalprice": pa.array(np.round(r.uniform(1000, 500000, n_ord), 2)),
            "o_orderdate": pa.array(d1995 + r.integers(0, 2400, n_ord) * day_us,
                                    pa.timestamp("us")),
            "o_orderpriority": pa.array(r.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord))},
        "lineitem": {
            "l_orderkey": pa.array(r.integers(0, n_ord, n_li, dtype=np.int64)),
            "l_partkey": pa.array(r.integers(0, n_part, n_li, dtype=np.int64)),
            "l_suppkey": pa.array(r.integers(0, n_supp, n_li, dtype=np.int64)),
            "l_linenumber": pa.array(r.integers(1, 8, n_li, dtype=np.int32)),
            "l_quantity": pa.array(r.integers(1, 51, n_li).astype(np.float64)),
            "l_extendedprice": pa.array(np.round(r.uniform(900, 105000, n_li), 2)),
            "l_discount": pa.array(r.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(r.integers(0, 9, n_li) / 100.0),
            "l_returnflag": pa.array(r.choice(["A", "N", "R"], n_li)),
            "l_linestatus": pa.array(r.choice(["F", "O"], n_li)),
            "l_shipdate": pa.array(d1995 + r.integers(0, 2500, n_li) * day_us,
                                   pa.timestamp("us"))},
        "events": events_table(r, 0, n_ev, 1_704_067_200_000_000, 30 * day_us),
        "documents": documents(r, n_doc),
        "embeddings": embeddings(r, n_emb),
    }
    man = {}
    for name, cols in tables.items():
        t = cols if isinstance(cols, pa.Table) else pa.table(cols)
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, path)
        man[name] = {"records": t.num_rows, "bytes": os.path.getsize(path)}
    return man


def documents(r, n):
    texts = []
    for i in range(n):
        if i > 20 and r.random() < 0.05:  # near-duplicate of an earlier doc
            toks = texts[int(r.integers(0, i))].split()
            for j in r.integers(0, len(toks), max(1, len(toks) // 20)):
                toks[j] = WORDS[int(r.integers(0, len(WORDS)))]
        else:
            toks = list(r.choice(WORDS, int(r.integers(10, 101))))
        texts.append(" ".join(toks))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(r.choice(LANGS, n)),
        "source": pa.array([f"src{s}" for s in r.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})


def embeddings(r, n, dim=64):
    v = r.normal(size=(n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n, dtype=np.int32))})
