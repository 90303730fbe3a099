"""Output checks: every result the library produced is compared with DuckDB.

* ETL lakes: DuckDB SQL of the same transform (scrub quoted INF/NaN tokens,
  unwrap the record list, rename, `lower(trim)` left join with the IBGE
  dimension, cast-or-default to the target schema) over the delivered
  documents, compared row for row with the lake.
* Headline queries: `SparkEntry.oracleSql` run in DuckDB over the same
  tables, compared canonically: columns sorted by name, rows sorted, floats
  compared by IEEE bit pattern.
* Stream landing: the landed table equals the distinct delivered events.

Each check returns None when the output is right, else a short message.
"""
import math
import struct

import duckdb
import pandas as pd

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()
MUNI_COLS = ("Geográfico.Município", "Município")
STRINGS = {"grande_grupamento_atividade": "Grande Grupamento Atividade Econômica",
           "atividade_economica": "Atividade Econômica",
           "cnae_secao": "CNAE 2.0 Seção", "cnae_divisao": "CNAE 2.0 Divisão",
           "cnae_grupo": "CNAE 2.0 Grupo", "cnae_classe": "CNAE 2.0 Classe",
           "cnae_subclasse": "CNAE 2.0 Subclasse"}
LONGS = {"admitidos": "Admitidos", "desligados": "Desligados", "saldo": "Saldo",
         "estoque": "Estoque"}
DOUBLES = {"variacao_relativa": "Variação Relativa",
           "tempo_emprego": "Tempo de Emprego"}
COLUMNS = (["municipio", "codigo_ibge"] + list(STRINGS) + list(LONGS) +
           list(DOUBLES) + ["ano_ref", "mes_ref", "data_competencia"])


def q(s):
    return "'" + s.replace("'", "''") + "'"


def field(name):
    return f"r->>'$.\"{name}\"'"


def dim_columns(path):
    """The dimension's separator and key/code columns, by the library's rule:
    `;` unless the header collapses to one column, then `,`; NOME if present
    else the last column; COD if present else the second."""
    with open(path, encoding="utf-8") as f:
        header = f.readline().rstrip("\n")
    sep = ";" if len(header.split(";")) > 1 else ","
    cols = header.split(sep)
    return sep, ("NOME" if "NOME" in cols else cols[-1]), ("COD" if "COD" in cols else cols[1])


def transform_sql(doc):
    """DuckDB SQL of `MunicipioPipeline.transform` for one document."""
    sep, name_col, code_col = dim_columns(doc["dim_path"])
    muni = "coalesce(" + ", ".join(field(c) for c in MUNI_COLS) + ")"
    cols = [f"coalesce({muni}, 'Indefinido') AS municipio",
            "coalesce(TRY_CAST(d.cod AS BIGINT), 0) AS codigo_ibge"]
    cols += [f"coalesce({field(src)}, 'Indefinido') AS {dst}" for dst, src in STRINGS.items()]
    cols += [f"coalesce(CAST(trunc(TRY_CAST({field(src)} AS DOUBLE)) AS BIGINT), 0) AS {dst}"
             for dst, src in LONGS.items()]
    cols += [f"coalesce(TRY_CAST({field(src)} AS DOUBLE), 0.0) AS {dst}"
             for dst, src in DOUBLES.items()]
    cols += [f"CAST({doc['ano']} AS BIGINT) AS ano_ref",
             f"CAST({doc['mes']} AS BIGINT) AS mes_ref",
             f"make_date({doc['ano']}, {doc['mes']}, 1) AS data_competencia"]
    return f"""
      WITH raw AS (
        SELECT CAST(regexp_replace(content, '"(-?INF|NaN)"', 'null', 'g') AS JSON) AS j
        FROM read_text({q(doc['path'])})),
      arr AS (
        SELECT CASE WHEN json_type(j) = 'ARRAY' THEN j
                    ELSE json_extract(j, '$."' || json_keys(j)[1] || '"') END AS a
        FROM raw),
      recs AS (SELECT unnest(CAST(a AS JSON[])) AS r FROM arr),
      dim AS (
        SELECT lower(trim("{name_col}")) AS k, "{code_col}" AS cod
        FROM read_csv({q(doc['dim_path'])}, delim={q(sep)}, header = true,
                      all_varchar = true, quote = '"'))
      SELECT {', '.join(cols)}
      FROM recs LEFT JOIN dim d ON lower(trim({muni})) = d.k"""


def lake_sql(path, partitioned):
    src = (f"read_parquet({q(path + '/**/*.parquet')}, hive_partitioning = true)"
           if partitioned else f"read_parquet({q(path + '/*.parquet')})")
    cols = [f"CAST({c} AS BIGINT) AS {c}" if c in ("ano_ref", "mes_ref") else c
            for c in COLUMNS]
    return f"SELECT {', '.join(cols)} FROM {src}"


def diff_count(con, left, right):
    """Rows in either relation and not the other, counting duplicates."""
    return con.execute(f"""
      SELECT (SELECT count(*) FROM (({left}) EXCEPT ALL ({right}))) +
             (SELECT count(*) FROM (({right}) EXCEPT ALL ({left})))""").fetchone()[0]


def check_lake(lake, docs, partitioned):
    """`docs` are the documents whose transform the lake must hold exactly."""
    con = duckdb.connect()
    expected = " UNION ALL ".join(f"SELECT * FROM ({transform_sql(d)})" for d in docs)
    bad = diff_count(con, lake_sql(lake, partitioned), expected)
    if bad:
        n_lake = con.execute(f"SELECT count(*) FROM ({lake_sql(lake, partitioned)})").fetchone()[0]
        n_exp = con.execute(f"SELECT count(*) FROM ({expected})").fetchone()[0]
        return f"lake has {n_lake} rows, transform {n_exp}; {bad} rows differ"
    return None


def check_stream(target, sources):
    con = duckdb.connect()
    cols = "event_id, epoch_us(ts) AS ts, user_id, event_type, value, props"
    landed = f"SELECT {cols} FROM read_parquet({q(target + '/*.parquet')})"
    files = "[" + ", ".join(q(s) for s in sources) + "]"
    delivered = f"SELECT DISTINCT {cols} FROM read_parquet({files})"
    bad = diff_count(con, landed, delivered)
    if bad:
        return f"{bad} rows differ between the landed table and the distinct deliveries"
    return None


# Canonical compare, as the engine's differential harness does it.

def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def values_equal(a, b):
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return struct.pack("<d", a) == struct.pack("<d", b)
    try:
        if pd.isna(a) and pd.isna(b):
            return True
    except (TypeError, ValueError):
        pass
    return a == b or str(a) == str(b)


def compare(spark_df, duck_df):
    sa, sb = canon(spark_df), canon(duck_df)
    if list(sa.columns) != list(sb.columns):
        return f"columns spark={list(sa.columns)} duck={list(sb.columns)}"
    if len(sa) != len(sb):
        return f"rows spark={len(sa)} duck={len(sb)}"
    for c in sa.columns:
        for i, (x, y) in enumerate(zip(sa[c].tolist(), sb[c].tolist())):
            if not values_equal(x, y):
                return f"value col={c} row={i} spark={x!r} duck={y!r}"
    return None


def check_queries(tables_dir, results_dir, oracle_sql):
    """{query: None or message} for every query with an oracle."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet({q(f'{tables_dir}/{t}.parquet')})")
    out = {}
    for name, sql in oracle_sql.items():
        try:
            spark_df = con.execute(
                f"SELECT * FROM read_parquet({q(f'{results_dir}/{name}/*.parquet')})").fetchdf()
            out[name] = compare(spark_df, con.execute(sql).fetchdf())
        except Exception as e:  # noqa: BLE001 -- any failure is a failed check
            out[name] = f"check error: {e}"
    return out
