"""Seed-derived inputs: chatter-shaped events and the registry tables.

Every value is a function of ``(seed, row index)``, so one seed always
yields the same inputs and the same on-disk layout.
"""

from __future__ import annotations

import json
import os
import random

import numpy as np

STREAMS = tuple(f"chatter-{i:02d}" for i in range(16))
WORDS = ("substitutable", "fungible", "ordered", "replayed", "projected",
         "folded", "streamed", "compacted", "partitioned", "merged")
#: sentiment as a SQL expression over the event columns (native tier)
SENTIMENT_SQL = ("cast(get_json_object(payload, "
                 "'$.textanalysis.aggregateSentiment') as long)")


def chatter_events(spark, seed: int, lo: int, hi: int,
                   streams: tuple[str, ...] = STREAMS):
    """Events ``lo..hi-1`` of the seed's chatter stream as a client batch
    (the envelope columns photon's clients post), spread over
    ``streams``. The stream and the sentiment are hashes of (index,
    seed), so any slice is reproducible on its own."""
    from pyspark.sql import functions as F

    word = F.element_at(F.array(*[F.lit(w) for w in WORDS]),
                        (F.pmod(F.hash("id", F.lit(seed), F.lit(2)),
                                F.lit(len(WORDS))) + 1).cast("int"))
    sent = F.pmod(F.hash("id", F.lit(seed), F.lit(1)), F.lit(201)) - 100
    payload = F.to_json(F.struct(
        F.concat(F.lit("ev-"), F.col("id").cast("string")).alias("id"),
        word.alias("text"),
        F.struct(sent.alias("aggregateSentiment"),
                 F.array(F.struct(word.alias("phrase"),
                                  F.lit(1).alias("count")))
                 .alias("keyphrases")).alias("textanalysis")))
    stream = F.element_at(
        F.array(*[F.lit(s) for s in streams]),
        (F.pmod(F.hash("id", F.lit(seed), F.lit(0)),
                F.lit(len(streams))) + 1).cast("int"))
    return spark.range(lo, hi).select(
        stream.alias("stream_name"),
        F.lit("chatter-event").alias("event_type"),
        F.lit("request://chatter").alias("service_id"),
        F.concat(F.lit("local-"), F.col("id").cast("string"))
        .alias("local_id"),
        payload.alias("payload"))


def reference_totals(spark, seed: int, n: int,
                     streams: tuple[str, ...] = STREAMS) -> dict:
    """Spark groupBy reference over the generated batch (not the store):
    ``{stream: (count, sentiment sum)}``."""
    from pyspark.sql import functions as F

    rows = (chatter_events(spark, seed, 0, n, streams)
            .groupBy("stream_name")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.expr(SENTIMENT_SQL)).alias("s"))
            .collect())
    return {r["stream_name"]: (r["n"], r["s"]) for r in rows}


def chatter_payload(rng: random.Random, i: int) -> tuple[str, int]:
    """One client-posted chatter payload and its sentiment."""
    sent = rng.randint(-100, 100)
    word = rng.choice(WORDS)
    return json.dumps({
        "id": f"post-{i}", "text": word,
        "textanalysis": {"aggregateSentiment": sent,
                         "keyphrases": [{"phrase": word, "count": 1}]}}), sent


# ------------------------------------------------------ registry tables

def registry_tables(out_dir: str, seed: int, scale: float) -> None:
    """TPC-H-shaped tables plus ``events`` and ``documents`` with the
    column names and types of the registry's testdata, written as one
    parquet file each. ``scale`` 1.0 is sf0.001 (6,000 lineitems)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    def write(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir,
                                                    f"{name}.parquet"))

    n_cust, n_supp, n_part = int(150 * scale), int(10 * scale), \
        int(200 * scale)
    n_ord, n_ev, n_doc = int(1500 * scale), int(1000 * scale), \
        int(500 * scale)

    write("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    write("customer", {
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"],
                                   n_cust).tolist()})
    write("supplier", {
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2)})
    adjectives = ["cold", "small", "large", "hot", "shiny", "plain"]
    nouns = ["widget", "bolt", "gear", "valve", "spring"]
    write("part", {
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{rng.choice(adjectives)} {rng.choice(nouns)}"
                   for _ in range(n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "PROMO", "STANDARD", "LARGE"],
                             n_part).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + np.arange(n_part) * 0.1, 2)})

    day = np.timedelta64(1, "D")
    start = np.datetime64("1995-01-01T00:00:00", "us")
    o_date = start + rng.integers(0, 2404, n_ord) * day
    write("orders", {
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
        "o_totalprice": np.round(rng.uniform(1000, 450000, n_ord), 2),
        "o_orderdate": pa.array(o_date, pa.timestamp("us")),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            n_ord).tolist()})

    lines_per = rng.integers(1, 8, n_ord)
    l_order = np.repeat(np.arange(n_ord), lines_per)
    l_num = np.concatenate([np.arange(1, k + 1) for k in lines_per])
    n_li = len(l_order)
    qty = rng.integers(1, 51, n_li).astype(float)
    write("lineitem", {
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(l_num, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2000, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_li).tolist(),
        "l_linestatus": rng.choice(["F", "O"], n_li).tolist(),
        "l_shipdate": pa.array(o_date[l_order]
                               + rng.integers(1, 122, n_li) * day,
                               pa.timestamp("us"))})

    ev_ts = (np.datetime64("2024-01-01T00:00:00", "us")
             + np.cumsum(rng.integers(1, 600_000_000, n_ev))
             .astype("timedelta64[us]"))
    write("events", {
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array(ev_ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 15, n_ev), pa.int64()),
        "event_type": rng.choice(["click", "error", "purchase", "signup",
                                  "view"], n_ev).tolist(),
        "value": np.round(rng.uniform(0, 330, n_ev), 2),
        "props": [json.dumps({"k": int(k)})
                  for k in rng.integers(0, 100, n_ev)]})

    vocab = ("the fast key order sort table scan merge part window small "
             "hash join row data slow filter customer line batch value "
             "spark group query stream a of").split()
    texts = []
    for _ in range(n_doc):
        words = rng.choice(vocab, int(rng.integers(20, 90))).tolist()
        if texts and rng.random() < 0.2:  # near-duplicate of an earlier doc
            base = texts[int(rng.integers(0, len(texts)))].split()
            words = base[:-3] + words[:3]
        texts.append(" ".join(words))
    write("documents", {
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": texts,
        "lang": rng.choice(["en", "de", "es", "fr", "zh"], n_doc).tolist(),
        "source": [f"src{i % 5}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
