"""Seeded input generator for the graft benchmark.

Everything here runs before the system under test starts and outside
every timed region; graft only ever sees the rows written to disk (batch
workloads) or the stream parameters derived here (streaming workloads).
Batch inputs use the corpus layout `<dir>/<table>.parquet` with the same
column names and types as the engine's test corpus (`events`,
`documents`), so the engine's table loaders read them unchanged.

The same seed always yields byte-identical files; see test_gen.py.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# 2024-01-01T00:00:00Z in epoch microseconds, the corpus's time origin.
T0_US = 1_704_067_200_000_000
EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])
EVENT_TYPE_P = np.array([0.50, 0.25, 0.10, 0.05, 0.10])
TIERS = np.array(["bronze", "silver", "gold", "platinum"])
LANGS = np.array(["en", "de", "fr", "es", "zh"])
M64 = (1 << 64) - 1


def zipf_keys(rng, n, keys, s):
    """`n` draws from a Zipf(s) law over `keys` ids; hot ranks get random ids."""
    p = 1.0 / np.arange(1, keys + 1, dtype=np.float64) ** s
    cdf = np.cumsum(p)
    cdf /= cdf[-1]
    ranks = np.minimum(np.searchsorted(cdf, rng.random(n), side="right"), keys - 1)
    return rng.permutation(keys)[ranks].astype(np.int64)


def _props(rng, n):
    vocab = pa.array([f'{{"k": {i}}}' for i in range(100)])
    return pa.DictionaryArray.from_arrays(
        pa.array(rng.integers(0, 100, n).astype(np.int32)), vocab).cast(pa.string())


def _events_table(event_id, ts_us, user_id, event_type, value_cents, props):
    return pa.table({
        "event_id": pa.array(event_id, pa.int64()),
        "ts": pa.array(ts_us, pa.int64()).cast(pa.timestamp("us")),
        "user_id": pa.array(user_id, pa.int64()),
        "event_type": pa.array(event_type, pa.string()),
        "value": pa.array(value_cents / 100.0, pa.float64()),
        "props": props,
    })


def write(table, path):
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)


def gen_batch_stream_table(out, seed, events, keys, changelog_per_key, span_s, zipf_s):
    """`events.parquet`: a Zipf-keyed event stream, sorted by time.
    `changelog.parquet`: a KTable changelog in the same schema (key =
    `user_id`, tier in `event_type`), about `changelog_per_key` upserts
    per key, uniformly keyed."""
    rng = np.random.default_rng([seed, 1])
    ts = T0_US + np.sort(rng.integers(0, span_s * 1_000_000, events))
    write(_events_table(
        np.arange(events), ts, zipf_keys(rng, events, keys, zipf_s),
        EVENT_TYPES[rng.choice(len(EVENT_TYPES), events, p=EVENT_TYPE_P)],
        np.round(rng.gamma(2.0, 5000.0, events)), _props(rng, events)),
        os.path.join(out, "events.parquet"))
    m = keys * changelog_per_key
    write(_events_table(
        np.arange(m), T0_US + rng.integers(0, span_s * 1_000_000, m),
        rng.integers(0, keys, m), TIERS[rng.integers(0, len(TIERS), m)],
        rng.integers(0, 100_000, m).astype(np.float64), _props(rng, m)),
        os.path.join(out, "changelog.parquet"))


def gen_documents(out, seed, docs, vocab, cluster_share, cluster_size,
                  edit_share, overcap_clusters, overcap_size):
    """`documents.parquet` with planted near-duplicate clusters.

    A `cluster_share` of the documents belong to clusters of
    `cluster_size`: copies of one base text with `edit_share` of the
    tokens replaced (token Jaccard well above the 0.5 threshold).
    `overcap_clusters` more clusters of `overcap_size` exact copies are
    larger than the LSH bucket cap, so the cap drops their buckets.
    `truth.parquet` (doc_id, cluster) lists every planted member.
    """
    rng = np.random.default_rng([seed, 2])
    words = np.array([f"w{i}" for i in range(vocab)])
    wp = 1.0 / np.arange(1, vocab + 1) ** 0.8
    wp /= wp.sum()
    lengths = rng.integers(40, 120, docs)
    toks = [rng.choice(vocab, n, p=wp) for n in lengths]
    cluster = np.full(docs, -1, np.int64)
    order = rng.permutation(docs)
    pos, cid = 0, 0
    sizes = [overcap_size] * overcap_clusters
    sizes += [cluster_size] * int(docs * cluster_share / cluster_size)
    for size in sizes:
        members = order[pos:pos + size]
        pos += size
        base = toks[members[0]]
        for m in members:
            t = base.copy()
            if size != overcap_size:
                hit = rng.random(len(t)) < edit_share
                t[hit] = rng.choice(vocab, int(hit.sum()), p=wp)
            toks[m] = t
            cluster[m] = cid
        cid += 1
    text = [" ".join(words[t]) for t in toks]
    write(pa.table({
        "doc_id": pa.array(np.arange(docs), pa.int64()),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(LANGS[rng.integers(0, len(LANGS), docs)], pa.string()),
        "source": pa.array([f"src{i % 7}" for i in range(docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    }), os.path.join(out, "documents.parquet"))
    planted = cluster >= 0
    write(pa.table({
        "doc_id": pa.array(np.arange(docs)[planted], pa.int64()),
        "cluster": pa.array(cluster[planted], pa.int64()),
        "overcap": pa.array(cluster[planted] < overcap_clusters, pa.bool_()),
    }), os.path.join(out, "truth.parquet"))


# ---- streaming events -------------------------------------------------------
#
# Streaming workloads read rows numbered 0, 1, 2, ... (Spark's
# `rate-micro-batch` source, or the open-loop generator thread). Row `v`'s
# key, event-time skew and payload are fixed functions of (seed, v): the
# benchmark's query computes them with the same splitmix64 arithmetic in
# Spark SQL (StreamWorkloads.scala) and the correctness check recomputes them
# here with numpy.

def splitmix64(x):
    x = (x + np.uint64(0x9E3779B97F4A7C15)) & np.uint64(M64)
    x = ((x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)) & np.uint64(M64)
    x = ((x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)) & np.uint64(M64)
    return x ^ (x >> np.uint64(31))


def stream_salt(seed):
    """The seed folded to the signed 64-bit constant both sides mix in."""
    return int(np.array([(seed * 0x100000001B3) & M64], dtype=np.uint64).view(np.int64)[0])


def stream_bits(v, salt, i):
    """53 uniform bits of field `i` of rows `v` (uint64 array)."""
    with np.errstate(over="ignore"):
        return splitmix64(v ^ np.uint64((salt + i) & M64)) >> np.uint64(11)
