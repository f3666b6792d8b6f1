"""Output checks, run after the timed region on the cold pass's outputs.

Queries with a DuckDB twin in the registry's ``ORACLE`` are compared with it
on the same generated inputs: row count, columns and the order-insensitive
value hash of ``tools/check_oracle.py``. The rows-only queries are held to
the invariants the repository's tests pin for them.
"""

from __future__ import annotations

import os
import sys
import traceback

import pyarrow.parquet as pq


def _rows(cols, rows):
    return [dict(zip(cols, r)) for r in rows]


def check_p1(source: dict[int, str], cols, rows) -> bool:
    """One prediction per (i, i+2) test pair; the label is the existence
    truth (same source), both labels occur, and the prediction is binary."""
    if len(rows) != sum(1 for d in source if d + 2 in source):
        return False
    labels = set()
    for r in _rows(cols, rows):
        a, b = int(r["srcId"]), int(r["dstId"])
        if b != a + 2 or r["label"] != int(source[a] == source[b]):
            return False
        if r["prediction"] not in (0.0, 1.0):
            return False
        labels.add(r["label"])
    return labels == {0, 1}


def p2_feature_sets(spark, data_dir: str) -> dict[str, frozenset[int]]:
    """Per document of the p2 query's 20% sample (the same ``sample`` call on
    the same table, so the same rows), the nonzero positions of its tf-idf
    vector, built with the spark.ml stages the reference names (Tokenizer,
    StopWordsRemover, HashingTF, IDF). MinHashLSH's Jaccard distance is
    defined over these sets."""
    from pyspark.ml.feature import IDF, HashingTF, StopWordsRemover, Tokenizer
    from pyspark.sql import functions as F

    from apache_spark_link_prediction_spark.plans.text_pipeline import TF_SIZE
    from apache_spark_link_prediction_spark.sources.readers import load_table

    docs = (
        load_table(spark, data_dir, "documents")
        .sample(fraction=0.2, seed=12345)
        .select(F.col("doc_id").cast("string").alias("srcId"), F.col("text"))
    )
    toks = StopWordsRemover(inputCol="raw", outputCol="toks").transform(
        Tokenizer(inputCol="text", outputCol="raw").transform(docs)
    )
    tf = HashingTF(inputCol="toks", outputCol="tf", numFeatures=TF_SIZE).transform(toks)
    tfidf = IDF(inputCol="tf", outputCol="tfidf").fit(tf).transform(tf)
    return {
        r["srcId"]: frozenset(
            int(i) for i, v in zip(r["tfidf"].indices, r["tfidf"].values) if v != 0.0
        )
        for r in tfidf.select("srcId", "tfidf").collect()
    }


def check_p2_lsh(feature_sets: dict[str, frozenset[int]], cols, rows) -> bool:
    """Canonical (string-ordered) pairs of distinct sampled docs whose
    exact Jaccard similarity, recomputed from their feature sets, equals the
    reported one and clears the 0.8 threshold."""
    for r in _rows(cols, rows):
        a, b = r["srcId"], r["dstId"]
        if not (a < b and a in feature_sets and b in feature_sets):
            return False
        x, y = feature_sets[a], feature_sets[b]
        inter = len(x & y)
        # The operator's own arithmetic: similarity = 1 - (1 - |x&y| / |x|y|).
        jaccard = 1.0 - (1.0 - inter / (len(x) + len(y) - inter))
        if abs(r["jaccardSimilarity"] - jaccard) > 1e-12 or jaccard < 0.8:
            return False
    return True


SIMHASH_BITS = 32  # the registry entry's ``bits``


def simhash_signatures(spark, texts: dict[int, str]) -> dict[int, int]:
    """The 32-bit simhash ``operators.dedup.simhash_cols`` defines: per bit,
    a +1/-1 vote over the doc's distinct tokens by that bit of Spark's
    ``xxhash64(token)``. Spark hashes the vocabulary; Python votes."""
    from pyspark.sql import functions as F

    vocab = sorted({t for text in texts.values() for t in text.lower().split()})
    hashed = spark.createDataFrame([(t,) for t in vocab], "tok string")
    h = dict(hashed.select("tok", F.xxhash64("tok")).collect())
    sigs = {}
    for doc_id, text in texts.items():
        toks = set(text.lower().split())
        sig = 0
        for b in range(SIMHASH_BITS):
            if sum(1 if (h[t] >> b) & 1 else -1 for t in toks) > 0:
                sig |= 1 << b
        sigs[doc_id] = sig
    return sigs


def check_simhash(sigs: dict[int, int], cols, rows) -> bool:
    """Canonical pairs whose recomputed signatures differ in the reported
    number of bits, at most 3 (the registry entry's ``max_hamming``)."""
    for r in _rows(cols, rows):
        a, b = r["src_id"], r["dst_id"]
        if not (a < b and a in sigs and b in sigs):
            return False
        if r["hamming"] != (sigs[a] ^ sigs[b]).bit_count() or r["hamming"] > 3:
            return False
    return True


def check_oracle(cols, rows, sql, data_dir, root) -> bool:
    import duckdb

    sys.path.insert(0, f"{root}/tools")
    from check_oracle import table_hash

    con = duckdb.connect()
    try:
        for t in ("documents", "embeddings"):
            if os.path.exists(f"{data_dir}/{t}.parquet"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        res = con.execute(sql)
        dcols = [d[0] for d in res.description]
        drows = res.fetchall()
    finally:
        con.close()
    return (
        len(rows) == len(drows)
        and sorted(cols) == sorted(dcols)
        and table_hash(cols, rows) == table_hash(dcols, drows)
    )


def check_all(spark, names, outputs, data_dir: str, root: str) -> dict[str, bool]:
    """Query name -> passed, for every query that produced an output."""
    from apache_spark_link_prediction_spark.queries import ORACLE

    docs = pq.read_table(f"{data_dir}/documents.parquet").to_pydict()
    source = dict(zip(docs["doc_id"], docs["source"]))
    result = {}
    for name in names:
        if name not in outputs:
            continue
        cols, rows = outputs[name]
        try:
            if name in ORACLE:
                result[name] = check_oracle(cols, rows, ORACLE[name], data_dir, root)
            elif name == "dedup_simhash":
                texts = dict(zip(docs["doc_id"], docs["text"]))
                result[name] = check_simhash(simhash_signatures(spark, texts), cols, rows)
            elif name == "p2_lsh_similarity":
                result[name] = check_p2_lsh(p2_feature_sets(spark, data_dir), cols, rows)
            elif name == "p1_link_prediction":
                result[name] = check_p1(source, cols, rows)
            else:
                raise KeyError(f"no check for {name}")
        except Exception:  # a check that cannot run counts as failed
            traceback.print_exc(file=sys.stderr)
            result[name] = False
        if not result[name]:
            print(f"# check {name} failed on {len(rows)} rows of {cols}: {rows[:3]}",
                  file=sys.stderr)
    return result
