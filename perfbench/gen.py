"""Seeded input generator for the two workloads.

Every table is a pure function of (seed, size): numpy's PCG64 draws the
values, DuckDB writes them. Nothing here reads outside the output
directory, and the program under test only ever sees the written files.

Layouts, one directory per run:
  query_mix      the ten analytics tables, <name>.parquet, with the
                 columns and types of the tables in TESTDATA.md
  catalog_load   {observations,observers,taxa}/part.tsv (iNat dimensions)
                 and day_<d>/photos/part.tsv (one daily photo dump)
"""
import os

import duckdb
import numpy as np
import pandas as pd

WORDS = ["row", "the", "query", "stream", "fast", "spark", "line", "small",
         "customer", "group", "value", "hash", "batch", "sort", "data",
         "big", "filter", "dup", "key", "agg", "scan", "slow", "table",
         "part", "a", "merge", "window", "order", "column", "join", "vector"]
ADJ = ["blue", "hot", "small", "old", "red", "new", "cold", "large"]
NOUN = ["bolt", "gear", "anvil", "widget", "rod", "plate", "ring", "gizmo"]
LICENSES = ["CC0", "CC-BY", "CC-BY-NC", "CC-BY-SA", "PD", "CC-BY-ND"]
EXTENSIONS = ["jpeg", "png", "JPG"]


def _write(con, df, path, fmt="parquet"):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    con.register("_frame", df)
    if fmt == "parquet":
        con.execute(f"COPY (SELECT * FROM _frame) TO '{path}' (FORMAT PARQUET)")
    else:
        con.execute(f"COPY (SELECT * FROM _frame) TO '{path}' "
                    "(HEADER, DELIMITER '\t', QUOTE '', ESCAPE '')")
    con.unregister("_frame")


def _texts(rng, n, dup_share):
    """Random-vocabulary documents; `dup_share` of them are near-copies
    of an earlier document with one or two words replaced, so the
    LSH candidate and verify passes have real clusters to find."""
    lens = rng.integers(10, 100, n)
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < dup_share:
            ws = texts[int(rng.integers(0, i))].split(" ")
            for _ in range(int(rng.integers(1, 3))):
                ws[int(rng.integers(0, len(ws)))] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            ws = [WORDS[j] for j in rng.integers(0, len(WORDS), int(lens[i]))]
        texts.append(" ".join(ws))
    return texts


def documents(rng, n, dup_share=0.08):
    text = _texts(rng, n, dup_share)
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": text,
        "lang": np.array(["en", "zh", "de", "fr", "es"])[rng.integers(0, 5, n)],
        "source": [f"src{k}" for k in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    })


def analytics_tables(con, out, seed, scale):
    """The ten TESTDATA.md tables at `scale` x sf0.01 row counts."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = 1500 * scale, 100 * scale, 2000 * scale
    n_ord, n_li, n_ev = 15000 * scale, 60000 * scale, 10000 * scale
    n_doc, n_emb = 500 * scale, 500 * scale
    t = {}
    t["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    t["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(["MACHINERY", "AUTOMOBILE", "BUILDING",
                                  "FURNITURE", "HOUSEHOLD"])[rng.integers(0, 5, n_cust)]})
    t["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    t["part"] = pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
        "p_type": np.array(["SMALL", "MEDIUM", "ECONOMY", "STANDARD", "LARGE",
                            "PROMO"])[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)})
    day = np.timedelta64(1, "D")
    t["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": np.datetime64("1995-01-01") + rng.integers(0, 2404, n_ord) * day,
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"])[rng.integers(0, 5, n_ord)]})
    t["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": np.datetime64("1995-01-02") + rng.integers(0, 2498, n_li) * day})
    micros = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    t["events"] = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01T00:00:00", "us") + micros.astype("timedelta64[us]"),
        "user_id": rng.integers(0, 150 * scale, n_ev).astype(np.int64),
        "event_type": np.array(["click", "signup", "error", "view",
                                "purchase"])[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.uniform(0.01, 490.02, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    t["documents"] = documents(rng, n_doc)
    centroids = rng.normal(0.0, 1.0, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = centroids[labels] * 0.3 + rng.normal(0.0, 1.0, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": list(vecs),
        "label": labels.astype(np.int32)})
    for name, df in t.items():
        _write(con, df, f"{out}/{name}.parquet")
    # numpy datetimes arrive as TIMESTAMP_NS; the TESTDATA.md tables carry
    # TIMESTAMP (microseconds), which is what the oracles were written for
    for name, cols in (("orders", ["o_orderdate"]), ("lineitem", ["l_shipdate"]),
                       ("events", ["ts"])):
        p = f"{out}/{name}.parquet"
        casts = ", ".join(f"CAST({c} AS TIMESTAMP) AS {c}" for c in cols)
        con.execute(f"COPY (SELECT * REPLACE ({casts}) FROM read_parquet('{p}')) "
                    f"TO '{p}.tmp' (FORMAT PARQUET)")
        os.replace(f"{p}.tmp", p)
    # embeddings: FLOAT[] elements, as in the TESTDATA.md tables
    p = f"{out}/embeddings.parquet"
    con.execute(f"COPY (SELECT vec_id, CAST(embedding AS FLOAT[]) AS embedding, label "
                f"FROM read_parquet('{p}')) TO '{p}.tmp' (FORMAT PARQUET)")
    os.replace(f"{p}.tmp", p)


def load_inputs(con, out, seed, days, photos_per_day, repull_share):
    """iNat-shaped daily dumps. Day d adds `photos_per_day` new photos
    and re-pulls a seeded `repull_share` of earlier photos with new
    width/height/license values (updates for the merge). About 0.1% of
    each day's rows repeat another row's photo_id, so the dupe
    anti-join drops both copies."""
    rng = np.random.default_rng([seed, 3])
    n_obs = max(1000, photos_per_day * days // 3)
    n_users, n_taxa = max(200, n_obs // 10), 500
    obs = pd.DataFrame({
        "observation_uuid": [f"obs-{i}" for i in range(n_obs)],
        "observer_id": rng.integers(0, n_users, n_obs).astype(np.int32),
        "latitude": np.round(rng.uniform(-60, 60, n_obs), 6),
        "longitude": np.round(rng.uniform(-180, 180, n_obs), 6),
        "positional_accuracy": rng.integers(1, 100, n_obs).astype(np.int32),
        "taxon_id": rng.integers(1, n_taxa + 1, n_obs).astype(np.int32),
        "quality_grade": np.array(["research", "needs_id"])[rng.integers(0, 2, n_obs)],
        "observed_on": (np.datetime64("2020-01-01") +
                        rng.integers(0, 1500, n_obs) * np.timedelta64(1, "D")).astype("datetime64[D]").astype(str)})
    _write(con, obs, f"{out}/observations/part.tsv", "tsv")
    users = pd.DataFrame({
        "observer_id": np.arange(n_users, dtype=np.int32),
        "login": [f"user{i}" for i in range(n_users)],
        "name": [f"Name {i}" if i % 3 else "" for i in range(n_users)]})
    _write(con, users, f"{out}/observers/part.tsv", "tsv")
    tid = np.arange(1, n_taxa + 1)
    taxa = pd.DataFrame({
        "taxon_id": tid.astype(np.int32),
        "ancestry": [f"{t % 10 + 1}/{t % 100 + 1}" if t > 10 else "" for t in tid],
        "rank_level": 10.0, "rank": "species",
        "name": [f"Taxon {t}" for t in tid], "active": "true"})
    _write(con, taxa, f"{out}/taxa/part.tsv", "tsv")
    next_id = 1
    for d in range(days):
        ids = np.arange(next_id, next_id + photos_per_day)
        next_id += photos_per_day
        if d > 0:
            n_re = int(photos_per_day * repull_share)
            ids = np.concatenate([ids, rng.choice(np.arange(1, ids[0]), n_re, replace=False)])
        n_dup = max(1, len(ids) // 1000)
        ids = np.concatenate([ids, rng.choice(ids, n_dup, replace=False)])
        n = len(ids)
        obs_idx = rng.integers(0, n_obs, n)
        photos = pd.DataFrame({
            "photo_uuid": [f"p-{d}-{i}" for i in range(n)],
            "photo_id": ids.astype(np.int32),
            "observation_uuid": [f"obs-{i}" for i in obs_idx],
            "observer_id": obs["observer_id"].to_numpy()[obs_idx],
            "extension": np.array(EXTENSIONS)[ids % 3],
            "license": np.array(LICENSES)[rng.integers(0, len(LICENSES), n)],
            "width": rng.integers(100, 4000, n).astype(np.int32),
            "height": rng.integers(100, 3000, n).astype(np.int32),
            "position": rng.integers(0, 5, n).astype(np.int32)})
        _write(con, photos.iloc[rng.permutation(n)], f"{out}/day_{d}/photos/part.tsv", "tsv")


def generate(workload, out, seed, cfg):
    con = duckdb.connect()
    con.execute("SET threads=2")
    if workload == "query_mix":
        analytics_tables(con, out, seed, cfg["scale"])
    elif workload == "catalog_load":
        load_inputs(con, out, seed, cfg["days"], cfg["photos_per_day"], cfg["repull_share"])
    con.close()
