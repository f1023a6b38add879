#!/usr/bin/env python3
"""Generate sf1-scale validation data under testdata-sf1/.

The driver ships sf0.001/0.01/0.1 only; the scale-guard claims
(sketch-guarded blocking, prefix filtering, chunk-balanced expansion)
are measured at sf0.1. This generator produces a 10x table set for the
queries those guards carry (f8 -> customer/part, d2/d3 -> documents,
s3 -> embeddings), mirroring the sf0.1 distributions with 10x KEYS at
CONSTANT per-key density — 10x sources, 10x vocabulary variants, 10x
labels — which is how a real corpus grows (new domains/vocabulary/
clusters), and keeps per-block candidate density fixed so a healthy
operator should scale ~linearly in rows. Naive row duplication would
instead multiply per-block membership and conflate the operator's
intrinsic quadratic-bound behavior with data-shape drift.

Deterministic (seed 421). Stats mirrored from /root/testdata/sf0.1:
  documents:  5000 docs, 20 sources x 250, 31-word vocab, 10-100 wpd,
              lang {en:0.41, de/fr/es/zh: ~0.148 each}, ~0.3% exact dups
  embeddings: 2000 x dim-64, 10 Gaussian cluster labels
  part:       20k, p_name = 2 words of a 16-word vocab, 25 brands,
              6 types, size 1-50, retailprice 900-1000
  customer:   15k, nationkey 0-24, acctbal -1000..10000, 5 segments
"""
import os
import numpy as np
import pandas as pd

OUT = os.path.join(os.path.dirname(__file__), "..", "testdata-sf1")
SCALE = 10
rng = np.random.default_rng(421)

BASE_VOCAB = [
    "spark", "column", "store", "query", "table", "scan", "filter",
    "join", "agg", "sort", "hash", "merge", "batch", "stream", "index",
    "vector", "value", "order", "line", "part", "fast", "small",
    "large", "wide", "deep", "cold", "hot", "new", "old", "raw", "big"]
PART_WORDS = [
    "large", "small", "blue", "red", "green", "hot", "cold", "ring",
    "bolt", "screw", "nut", "plate", "rod", "tube", "wire", "gear"]
SEGMENTS = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]


def documents():
    n = 5000 * SCALE
    n_sources = 20 * SCALE
    # 10x vocab: each source group draws from its own suffixed variant
    # of the base vocab, so token document-frequency stays ~constant
    vocabs = [[f"{w}{g}" if g else w for w in BASE_VOCAB]
              for g in range(SCALE)]
    rows = []
    for i in range(n):
        # vocab group derived from the SAME key as the source (i mod
        # n_sources), so every source draws from exactly one vocab
        # variant and per-source token density stays constant — the
        # property the source-blocked operators (d2) rely on
        g = (i % n_sources) % SCALE
        vocab = vocabs[g]
        k = int(rng.integers(10, 101))
        words = rng.choice(vocab, size=k, replace=True)
        text = " ".join(words)
        rows.append((i, text, f"src{i % n_sources}"))
    # exact-duplicate injection at the sf0.1 rate (~0.16% of docs are
    # copies of an earlier doc)
    n_dups = int(n * 8 / 5000)
    for j in range(n_dups):
        src = int(rng.integers(0, n))
        dst = int(rng.integers(0, n))
        if src != dst:
            rows[dst] = (rows[dst][0], rows[src][1], rows[dst][2])
    df = pd.DataFrame(rows, columns=["doc_id", "text", "source"])
    df["lang"] = rng.choice(LANGS, size=n, p=LANG_P)
    df["n_chars"] = df["text"].str.len()
    df = df[["doc_id", "text", "lang", "source", "n_chars"]]
    df["doc_id"] = df["doc_id"].astype("int64")
    df["n_chars"] = df["n_chars"].astype("int64")
    return df


def embeddings():
    n = 2000 * SCALE
    dim = 64
    n_labels = 10 * SCALE
    centers = rng.normal(0, 1, size=(n_labels, dim)).astype(np.float32)
    labels = rng.integers(0, n_labels, size=n).astype(np.int32)
    vecs = centers[labels] + rng.normal(0, 0.35, size=(n, dim)).astype(
        np.float32)
    return pd.DataFrame({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": [v.astype(np.float32) for v in vecs],
        "label": labels})


def part():
    n = 20000 * SCALE
    words = [[f"{w}{g}" if g else w for w in PART_WORDS]
             for g in range(SCALE)]
    grp = rng.integers(0, SCALE, size=n)
    w1 = rng.integers(0, len(PART_WORDS), size=n)
    w2 = rng.integers(0, len(PART_WORDS), size=n)
    names = [f"{words[g][a]} {words[g][b]}"
             for g, a, b in zip(grp, w1, w2)]
    return pd.DataFrame({
        "p_partkey": np.arange(n, dtype=np.int64),
        "p_name": names,
        "p_brand": [f"Brand#{i}" for i in rng.integers(11, 56, size=n)],
        "p_type": rng.choice(
            ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"],
            size=n),
        "p_size": rng.integers(1, 51, size=n).astype(np.int32),
        "p_retailprice": np.round(rng.uniform(900, 1000, size=n), 2)})


def events():
    # mirrors sf0.1 events (100k rows / 1500 users / 30 days / 5 types,
    # value ~ U(0,100), props {"k": int}): 10x USERS at constant ~67
    # events/user — how traffic grows (new users), keeping q20's
    # per-key as-of history the same length so the run measures row
    # scaling, not key-skew drift
    n = 100000 * SCALE
    n_users = 1500 * SCALE
    t0 = pd.Timestamp("2024-01-01")
    span_ns = 30 * 24 * 3600 * 10**9
    ts = t0.value + rng.integers(0, span_ns, size=n)
    df = pd.DataFrame({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pd.to_datetime(np.sort(ts)),
        "user_id": rng.integers(0, n_users, size=n).astype(np.int64),
        "event_type": rng.choice(
            ["click", "view", "purchase", "signup", "error"], size=n),
        "value": np.round(rng.uniform(0, 100, size=n), 6),
        "props": [f'{{"k": {int(k)}}}'
                  for k in rng.integers(0, 100, size=n)]})
    return df


def judgement_graph(scale):
    """Edge table (src, dst) for the iterative components engines
    (f20/d6's core): a mix of near-CLIQUES (the LSH-dedup block shape —
    minLabel's best case, diameter ~2) and long CHAINS (the
    judgement-trail shape that stresses round counts — minLabel pays
    O(diameter) rounds, minLabelStars O(log n)). Scaling adds 10x
    COMPONENTS at the same size distribution (constant per-component
    density — how a judgement graph actually grows: more clusters, not
    bigger ones), so a healthy engine should scale ~linearly in edges
    with an unchanged round count.
    """
    g = np.random.default_rng(843)
    edges = []
    node = 0
    for _ in range(120 * scale):
        k = int(g.integers(4, 41))
        ids = np.arange(node, node + k)
        node += k
        if k <= 10:                      # small: true clique
            for i in range(k):
                for j in range(i + 1, k):
                    edges.append((ids[i], ids[j]))
        else:                            # large: ring + random chords
            for i in range(k):
                edges.append((ids[i], ids[(i + 1) % k]))
                for j in g.integers(0, k, size=4):
                    if int(j) != i:
                        edges.append((ids[i], ids[int(j)]))
    for _ in range(50 * scale):          # chains: diameter 30-60
        length = int(g.integers(30, 61))
        ids = np.arange(node, node + length)
        node += length
        for i in range(length - 1):
            edges.append((ids[i], ids[i + 1]))
    df = pd.DataFrame(edges, columns=["src", "dst"])
    return df.astype({"src": "int64", "dst": "int64"})


def customer():
    n = 15000 * SCALE
    return pd.DataFrame({
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": rng.integers(0, 25, size=n).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-1000, 10000, size=n), 2),
        "c_mktsegment": rng.choice(SEGMENTS, size=n)})


def region():
    return pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})


def nation():
    return pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)})


def supplier():
    n = 1000 * SCALE
    return pd.DataFrame({
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": rng.integers(0, 25, size=n).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, size=n), 2)})


def orders():
    """150k x 10 orders mirroring sf0.1: custkey uniform over the 10x
    customer keys, uniform thirds O/P/F, dates uniform over
    [1995-01-01, 2001-08-01], totalprice 1000..500000."""
    n = 150000 * SCALE
    days = (pd.Timestamp("2001-08-01") - pd.Timestamp("1995-01-01")).days
    return pd.DataFrame({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, 15000 * SCALE, size=n),
        "o_orderstatus": rng.choice(["O", "P", "F"], size=n),
        "o_totalprice": np.round(rng.uniform(1000, 500000, size=n), 2),
        "o_orderdate": (pd.Timestamp("1995-01-01") +
                        pd.to_timedelta(rng.integers(0, days + 1, size=n),
                                        unit="D")),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            size=n)})


def lineitem(orders_df):
    """1-7 lines per order (TPC-H shape, ~4x orders = ~6M rows):
    partkey/suppkey uniform over the 10x key spaces, shipdate =
    orderdate + 1..95 days, uniform-thirds returnflag, O/F linestatus,
    discount 0..0.10, tax 0..0.08 in cents."""
    counts = rng.integers(1, 8, size=len(orders_df))
    okeys = np.repeat(orders_df["o_orderkey"].to_numpy(), counts)
    odates = np.repeat(orders_df["o_orderdate"].to_numpy(), counts)
    n = len(okeys)
    linenos = np.concatenate([np.arange(1, c + 1) for c in counts])
    return pd.DataFrame({
        "l_orderkey": okeys,
        "l_partkey": rng.integers(0, 20000 * SCALE, size=n),
        "l_suppkey": rng.integers(0, 1000 * SCALE, size=n),
        "l_linenumber": linenos.astype(np.int32),
        "l_quantity": rng.integers(1, 51, size=n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, size=n), 2),
        "l_discount": rng.integers(0, 11, size=n) / 100.0,
        "l_tax": rng.integers(0, 9, size=n) / 100.0,
        "l_returnflag": rng.choice(["N", "A", "R"], size=n),
        "l_linestatus": rng.choice(["O", "F"], size=n),
        "l_shipdate": odates + pd.to_timedelta(
            rng.integers(1, 96, size=n), unit="D")})


def main():
    os.makedirs(OUT, exist_ok=True)
    # relational tables (r13 — the full-suite sf1 bench needs them):
    # timestamps must land as parquet timestamp[us] (the sf0.1
    # encoding Tables.normalizeNtz handles); pandas would write NANOS,
    # which Spark reads as a raw LONG under nanosAsLong
    import pyarrow as pa
    import pyarrow.parquet as pq
    odf = orders()
    for name, df in [("region", region()), ("nation", nation()),
                     ("supplier", supplier()), ("orders", odf),
                     ("lineitem", lineitem(odf))]:
        table = pa.Table.from_pandas(df, preserve_index=False)
        for field in ("o_orderdate", "l_shipdate"):
            idx = table.schema.get_field_index(field)
            if idx >= 0:
                table = table.set_column(
                    idx, field, table.column(field).cast(pa.timestamp("us")))
        pq.write_table(table, os.path.join(OUT, f"{name}.parquet"),
                       version="2.6")
        print(f"wrote {OUT}/{name}.parquet ({len(df)} rows)")
    for name, fn in [("documents", documents), ("embeddings", embeddings),
                     ("part", part), ("customer", customer),
                     ("events", events),
                     # judgement graph at BOTH scales (no driver-shipped
                     # sf0.1 counterpart exists, so the 1x baseline for
                     # the components scaling ratio lives here too)
                     ("judgements_base", lambda: judgement_graph(1)),
                     ("judgements", lambda: judgement_graph(SCALE))]:
        path = os.path.join(OUT, f"{name}.parquet")
        df = fn()
        if name == "events":
            # write events.ts as parquet TIMESTAMP(NANOS). Tables.load
            # accepts either encoding (it reads each table's schema from
            # its footer): NANOS arrives as a nanosecond LONG under
            # nanosAsLong, timestamp[us] as NTZ, both normalized to the
            # same TIMESTAMP — ns keeps the NANOS path exercised at sf1
            import pyarrow as pa
            import pyarrow.parquet as pq
            table = pa.Table.from_pandas(df, preserve_index=False)
            idx = table.schema.get_field_index("ts")
            table = table.set_column(
                idx, "ts", table.column("ts").cast(pa.timestamp("ns")))
            pq.write_table(table, path, store_schema=False,
                           coerce_timestamps=None, version="2.6")
        elif name == "embeddings":
            # SHARDED directory (r12, matching gen_sf10): a single
            # parquet file is ONE scan split, serializing the
            # scan-stage argmax onto one core and conflating layout
            # with operator scaling in the sf1→sf10 ratios
            os.makedirs(path, exist_ok=True)
            shard = (len(df) + 31) // 32
            for i in range(32):
                df.iloc[i * shard:(i + 1) * shard].to_parquet(
                    os.path.join(path, f"part-{i:05d}.parquet"),
                    index=False)
        else:
            df.to_parquet(path, index=False)
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
