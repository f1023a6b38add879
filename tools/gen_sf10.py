#!/usr/bin/env python3
"""Generate an sf10 DOCUMENTS table under testdata-sf10/ (500k docs).

One more decade of scale evidence where it is cheapest: the heaviest
DOCUMENT operators (d3, d6, d9, t11, p1) get a 100x-of-sf0.1 run so
super-linear behavior that hides between 10x points has a second
decade to show up in. Same growth philosophy as tools/gen_sf1.py —
100x KEYS at CONSTANT per-key density (100x sources, 100x vocabulary
variants, same 10-100 words/doc, same ~0.16% exact-dup rate), which is
how a real corpus grows (new domains/vocabulary), so per-block
candidate density stays fixed and a healthy operator should scale
~linearly in rows.

r12 adds embeddings.parquet (200k x dim-64, 1000 Gaussian cluster
labels — 100x sf0.1 LABELS at constant ~200 vectors/list, the same
constant-per-key-density philosophy): the embedding-side heavies
(d12/d13/s6 and the VecStore probes) previously had only one measured
decade (sf0.1 -> sf1); this is their second. part/events stay
unwritten — no sf10 operator reads them.

Deterministic (seed 1042).
"""
import os
import numpy as np
import pandas as pd

OUT = os.path.join(os.path.dirname(__file__), "..", "testdata-sf10")
SCALE = 100
rng = np.random.default_rng(1042)

BASE_VOCAB = [
    "spark", "column", "store", "query", "table", "scan", "filter",
    "join", "agg", "sort", "hash", "merge", "batch", "stream", "index",
    "vector", "value", "order", "line", "part", "fast", "small",
    "large", "wide", "deep", "cold", "hot", "new", "old", "raw", "big"]
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]


def documents():
    n = 5000 * SCALE
    n_sources = 20 * SCALE
    vocabs = [np.array([f"{w}{g}" if g else w for w in BASE_VOCAB])
              for g in range(SCALE)]
    ks = rng.integers(10, 101, size=n)
    # vectorized: draw every word index up front, slice per doc
    idx = rng.integers(0, len(BASE_VOCAB), size=int(ks.sum()))
    offs = np.concatenate(([0], np.cumsum(ks)))
    texts = []
    for i in range(n):
        g = (i % n_sources) % SCALE
        words = vocabs[g][idx[offs[i]:offs[i + 1]]]
        texts.append(" ".join(words))
    # exact-duplicate injection at the sf0.1 rate (~0.16%)
    n_dups = int(n * 8 / 5000)
    for _ in range(n_dups):
        src = int(rng.integers(0, n))
        dst = int(rng.integers(0, n))
        if src != dst:
            texts[dst] = texts[src]
    df = pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "source": [f"src{i % n_sources}" for i in range(n)]})
    df["lang"] = rng.choice(LANGS, size=n, p=LANG_P)
    df["n_chars"] = df["text"].str.len().astype("int64")
    return df[["doc_id", "text", "lang", "source", "n_chars"]]


def embeddings():
    n = 2000 * SCALE
    dim = 64
    n_labels = 10 * SCALE
    # own seeded stream: embeddings regenerate byte-identically whether
    # or not documents() ran first in the same process
    rng_e = np.random.default_rng(1043)
    centers = rng_e.normal(0, 1, size=(n_labels, dim)).astype(np.float32)
    labels = rng_e.integers(0, n_labels, size=n).astype(np.int32)
    vecs = centers[labels] + rng_e.normal(0, 0.35, size=(n, dim)).astype(
        np.float32)
    return pd.DataFrame({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": [v.astype(np.float32) for v in vecs],
        "label": labels})


def embeddings2m():
    """r13 third vector decade: 2M x dim-64, 10k Gaussian cluster
    labels — the "2M vectors, 10k lists" ceiling BASELINE round-12
    named for the flat coarse argmax. Same constant-per-key-density
    philosophy (100x sf1's labels at ~200 vectors/list). Own seeded
    stream (1044) for standalone regeneration."""
    n = 2000000
    dim = 64
    n_labels = 10000
    rng_e = np.random.default_rng(1044)
    centers = rng_e.normal(0, 1, size=(n_labels, dim)).astype(np.float32)
    labels = rng_e.integers(0, n_labels, size=n).astype(np.int32)
    vecs = centers[labels] + rng_e.normal(0, 0.35, size=(n, dim)).astype(
        np.float32)
    return pd.DataFrame({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": [v for v in vecs],
        "label": labels})


def relational():
    """r15: the sf10 RELATIONAL + events + judgement-graph decade for
    the heavy-query column (f8 part/customer fpx blocking, f20/f20b
    judgement components, f22-f30 lineitem co-occurrence graph, q25/
    q29/q34 events). Reuses gen_sf1's generators verbatim at SCALE=100
    (10x sf1 KEYS at constant per-key density — same growth
    philosophy), writing only the tables gen_sf10 does not already
    own (documents/embeddings keep their r11/r12 corpora so the
    pinned BASELINE decades stay comparable)."""
    import importlib.util
    import pyarrow as pa
    import pyarrow.parquet as pq
    spec = importlib.util.spec_from_file_location(
        "gen_sf1", os.path.join(os.path.dirname(__file__), "gen_sf1.py"))
    g1 = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(g1)
    g1.SCALE = 100
    g1.rng = np.random.default_rng(421)  # fresh stream at the new scale
    odf = g1.orders()
    for name, df in [("region", g1.region()), ("nation", g1.nation()),
                     ("supplier", g1.supplier()), ("orders", odf),
                     ("lineitem", g1.lineitem(odf))]:
        table = pa.Table.from_pandas(df, preserve_index=False)
        for field in ("o_orderdate", "l_shipdate"):
            idx = table.schema.get_field_index(field)
            if idx >= 0:
                table = table.set_column(
                    idx, field, table.column(field).cast(pa.timestamp("us")))
        pq.write_table(table, os.path.join(OUT, f"{name}.parquet"),
                       version="2.6")
        print(f"wrote {OUT}/{name}.parquet ({len(df)} rows)")
        del df, table
    for name, fn in [("part", g1.part), ("customer", g1.customer),
                     ("judgements_base", lambda: g1.judgement_graph(1)),
                     ("judgements", lambda: g1.judgement_graph(100))]:
        df = fn()
        df.to_parquet(os.path.join(OUT, f"{name}.parquet"), index=False)
        print(f"wrote {OUT}/{name}.parquet ({len(df)} rows)")
        del df
    # events: parquet TIMESTAMP(NANOS), as gen_sf1 writes it (Tables.load
    # takes the schema from the footer and accepts it or timestamp[us])
    df = g1.events()
    table = pa.Table.from_pandas(df, preserve_index=False)
    idx = table.schema.get_field_index("ts")
    table = table.set_column(
        idx, "ts", table.column("ts").cast(pa.timestamp("ns")))
    pq.write_table(table, os.path.join(OUT, "events.parquet"),
                   store_schema=False, coerce_timestamps=None,
                   version="2.6")
    print(f"wrote {OUT}/events.parquet ({len(df)} rows)")


if __name__ == "__main__":
    import sys
    os.makedirs(OUT, exist_ok=True)
    which = sys.argv[1:] or ["documents", "embeddings"]
    if "relational" in which:
        relational()
    if "embeddings2m" in which:
        # separate dir so probes taking a `dir/embeddings.parquet`
        # contract can point at it; 64 shards (~31k rows each)
        out2 = os.path.join(os.path.dirname(__file__), "..",
                            "testdata-vec2m")
        d = os.path.join(out2, "embeddings.parquet")
        os.makedirs(d, exist_ok=True)
        df = embeddings2m()
        shard = (len(df) + 63) // 64
        for i in range(64):
            part = df.iloc[i * shard:(i + 1) * shard]
            part.to_parquet(
                os.path.join(d, f"part-{i:05d}.parquet"), index=False)
        print(f"wrote {len(df)} vectors to {d}/ (64 shards)")
    if "documents" in which:
        df = documents()
        df.to_parquet(os.path.join(OUT, "documents.parquet"), index=False)
        print(f"wrote {len(df)} docs to {OUT}/documents.parquet")
    if "embeddings" in which:
        # SHARDED directory, not one file: a single parquet file is one
        # scan split to Spark (one row group at this size), so the
        # scan-stage work — the coarse argmax in particular — would run
        # on ONE core. 32 shards ≈ one split per local core, and is
        # the layout a real 100 TB table has anyway.
        df = embeddings()
        d = os.path.join(OUT, "embeddings.parquet")
        os.makedirs(d, exist_ok=True)
        shard = (len(df) + 31) // 32
        for i in range(32):
            part = df.iloc[i * shard:(i + 1) * shard]
            part.to_parquet(
                os.path.join(d, f"part-{i:05d}.parquet"), index=False)
        print(f"wrote {len(df)} vectors to {d}/ (32 shards)")
