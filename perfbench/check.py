"""Correctness gate and per-layer metric assembly for perfbench/run.py.

Batch results are compared with DuckDB over the same generated parquet.
Streaming results are compared with a batch recomputation of the same
generated events (perfbench/gen.py's splitmix64 mapping) over the batch
boundaries the query reported, with late rows dropped by the same
watermark rule on both sides.
"""
import glob
import json
import os

import duckdb
import numpy as np
import pyarrow.parquet as pq

import gen


def _result(name, ok, detail=""):
    return {"check": name, "ok": bool(ok), "detail": str(detail)[:300]}


# ---- batch_stream_table -------------------------------------------------------

BST_ORACLES = {
    "word_count": """
        SELECT w AS word, count(*) AS cnt FROM (
          SELECT unnest(regexp_split_to_array(upper(event_type) || ' ' || props, '[^A-Za-z0-9]+')) AS w
          FROM events WHERE event_type <> 'error') WHERE w <> '' GROUP BY 1""",
    "tumbling": """
        SELECT user_id, (epoch_us(ts) // {tumble_us}) * {tumble_us} // 1000000 AS window_start_s,
               count(*) AS cnt
        FROM events GROUP BY 1, 2""",
    "sessions": """
        WITH o AS (SELECT user_id, epoch_us(ts) AS t FROM events),
             m AS (SELECT user_id, t, CASE WHEN lag(t) OVER w IS NULL OR t - lag(t) OVER w > {gap_us}
                                           THEN 1 ELSE 0 END AS brk
                   FROM o WINDOW w AS (PARTITION BY user_id ORDER BY t)),
             s AS (SELECT user_id, t, sum(brk) OVER (PARTITION BY user_id ORDER BY t
                                                     ROWS UNBOUNDED PRECEDING) AS sid FROM m)
        SELECT user_id, min(t) AS session_start_us, count(*) AS cnt FROM s GROUP BY user_id, sid""",
    "windowed_join": """
        WITH p AS (SELECT user_id, epoch_us(ts) AS t, event_id,
                          unnest([epoch_us(ts) // {w} - 1, epoch_us(ts) // {w}, epoch_us(ts) // {w} + 1]) AS b
                   FROM events WHERE event_type = 'purchase'),
             v AS (SELECT user_id, epoch_us(ts) AS t, event_id, epoch_us(ts) // {w} AS b
                   FROM events WHERE event_type = 'view')
        SELECT p.event_id AS l_event_id, v.event_id AS r_event_id
        FROM p JOIN v ON p.user_id = v.user_id AND p.b = v.b
        WHERE v.t BETWEEN p.t - {w} AND p.t + {w}""",
    "latest": """
        SELECT CAST(user_id AS VARCHAR) AS key, event_type AS value, event_id FROM changelog
        QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1""",
    "segments": """
        WITH t AS (SELECT user_id, value FROM changelog
                   QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1)
        SELECT user_id % 1000 AS key, count(*) AS users, sum(CAST(round(value * 100) AS BIGINT)) AS amount
        FROM t GROUP BY 1""",
    "stream_table": """
        WITH t AS (SELECT user_id, value FROM changelog
                   QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1),
             s AS (SELECT user_id % 1000 AS seg, count(*) AS users, sum(CAST(round(value * 100) AS BIGINT)) AS seg_amount
                   FROM t GROUP BY 1)
        SELECT e.event_id, s.users, s.seg_amount FROM events e JOIN s ON e.user_id % 1000 = s.seg""",
    "table_table": """
        WITH l AS (SELECT user_id, event_id FROM events
                   QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1),
             r AS (SELECT user_id, event_type FROM changelog
                   QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1)
        SELECT CAST(l.user_id AS VARCHAR) AS key, l.event_id AS last_event, r.event_type AS tier
        FROM l JOIN r ON l.user_id = r.user_id""",
}


def _interval_us(s):
    n, unit = s.split()
    return int(n) * {"seconds": 1, "minutes": 60, "hours": 3600}[unit] * 1_000_000


def _multiset_diff(con, got, want):
    """Rows in one relation and not the other, counting duplicates."""
    return con.execute(f"""SELECT count(*) FROM (
        (SELECT * FROM ({got}) EXCEPT ALL SELECT * FROM ({want}))
        UNION ALL (SELECT * FROM ({want}) EXCEPT ALL SELECT * FROM ({got})))""").fetchone()[0]


def check_batch_stream_table(input_dir, out_dir, params):
    con = duckdb.connect()
    con.execute("SET threads=4")
    for t in ("events", "changelog"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{input_dir}/{t}.parquet')")
    fmt = {"tumble_us": _interval_us(params["tumble_width"]),
           "gap_us": _interval_us(params["session_gap"]), "w": params["join_window_us"]}
    results = []
    for name, sql in BST_ORACLES.items():
        path = os.path.join(out_dir, "check", name)
        if not glob.glob(f"{path}/*.parquet"):
            results.append(_result(name, False, "no output"))
            continue
        want = sql.format(**fmt)
        cols = [c[0] for c in con.execute(f"DESCRIBE {want}").fetchall()]
        got = f"SELECT {', '.join(cols)} FROM read_parquet('{path}/*.parquet')"
        n_got = con.execute(f"SELECT count(*) FROM ({got})").fetchone()[0]
        diff = _multiset_diff(con, got, want)
        results.append(_result(name, diff == 0 and n_got > 0, f"rows={n_got} diff={diff}"))
    return results


# ---- batch_dedup --------------------------------------------------------------

TOKS = r"list_distinct(list_filter(string_split_regex(lower(text), '\W+'), w -> len(w) > 0))"


def _components(pairs):
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def check_batch_dedup(input_dir, out_dir, params):
    con = duckdb.connect()
    con.execute("SET threads=4")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{input_dir}/documents.parquet')")
    chk = os.path.join(out_dir, "check")
    results = []
    for part in ("candidates", "verified", "kept"):
        if not glob.glob(f"{chk}/{part}/*.parquet"):
            return [_result(part, False, "no output")]
    cand = f"read_parquet('{chk}/candidates/*.parquet')"
    # exact token-set Jaccard of every candidate, recomputed in DuckDB
    want_verified = f"""
        WITH t AS (SELECT doc_id, {TOKS} AS tk FROM documents)
        SELECT c.a, c.b FROM {cand} c JOIN t l ON c.a = l.doc_id JOIN t r ON c.b = r.doc_id
        WHERE round(len(list_intersect(l.tk, r.tk)) /
                    len(list_distinct(list_concat(l.tk, r.tk))), 4) >= 0.5"""
    got_verified = f"SELECT a, b FROM read_parquet('{chk}/verified/*.parquet')"
    n_ver = con.execute(f"SELECT count(*) FROM ({got_verified})").fetchone()[0]
    diff = _multiset_diff(con, got_verified, want_verified)
    results.append(_result("verified", diff == 0 and n_ver > 0, f"rows={n_ver} diff={diff}"))

    pairs = con.execute(got_verified).fetchall()
    comp = _components(pairs)
    losers = {x for x, c in comp.items() if x != c}
    docs = pq.read_table(f"{input_dir}/documents.parquet", columns=["doc_id"]).column(0).to_numpy()
    want_kept = set(docs.tolist()) - losers
    kept = pq.read_table(f"{chk}/kept").column("doc_id").to_numpy()
    ok = len(kept) == len(set(kept.tolist())) and set(kept.tolist()) == want_kept
    results.append(_result("kept", ok, f"kept={len(kept)} want={len(want_kept)}"))

    truth = pq.read_table(f"{input_dir}/truth.parquet").to_pandas()
    kept_set = set(kept.tolist())
    recall = {}
    for overcap, grp in truth.groupby("overcap"):
        dups = grp[grp["doc_id"] != grp.groupby("cluster")["doc_id"].transform("min")]
        removed = sum(1 for d in dups["doc_id"] if d not in kept_set)
        recall[bool(overcap)] = (removed, len(dups))
    removed = sum(r for r, _ in recall.values())
    total = sum(n for _, n in recall.values())
    r_in, n_in = recall.get(False, (0, 0))
    # under-cap clusters are edited copies with token Jaccard far above the
    # threshold; LSH misses such a member with probability ~1e-4
    results.append(_result("planted_recall_under_cap", n_in > 0 and r_in / n_in >= 0.98,
                           f"{r_in}/{n_in}"))
    results.append({"check": "planted_recall", "ok": True, "detail": f"{removed}/{total}",
                    "value": removed / total if total else 0.0, "found": removed, "planted": total})
    return results


# ---- streaming ------------------------------------------------------------------

def _read_batches(path):
    rows = [tuple(int(x) for x in line.split(",")) for line in open(path) if line.strip()]
    return sorted(rows)


def _due_ms(tag, v, batch_of, params, out_dir):
    if tag == "open":
        start, rate = open(os.path.join(out_dir, "open.due.csv")).read().strip().split(",")
        return int(start) + (v.astype(np.float64) * 1000.0 / float(rate)).astype(np.int64)
    return params["t0_ms"] + batch_of * params["advance_ms"]


def _batch_index(batches, n):
    """Per row: position of its batch in the (sorted) batch list."""
    ends = np.array([e for _, _, e in batches], dtype=np.int64)
    return np.searchsorted(ends, np.arange(n), side="right")


def _window_expected(tag, batches, params, out_dir):
    n = batches[-1][2]
    v = np.arange(n, dtype=np.uint64)
    salt = params["salt"]
    bidx = _batch_index(batches, n)
    batch_ids = np.array([b for b, _, _ in batches], dtype=np.int64)[bidx]
    due = _due_ms(tag, v, batch_ids, params, out_dir)
    r = gen.stream_bits(v, salt, 3).astype(np.float64) / 9007199254740992.0
    d = gen.stream_bits(v, salt, 4)
    late, ooo = params["late_share"], params["ooo_share"]
    delay = np.where(r < late, params["late_min_ms"] + (d % np.uint64(params["late_span_ms"])).astype(np.int64),
                     np.where(r < late + ooo, (d % np.uint64(params["ooo_max_ms"])).astype(np.int64), 0))
    key = gen.stream_bits(v, salt, 1) % (np.uint64(1) + gen.stream_bits(v, salt, 2) % np.uint64(params["keys"]))
    et = due - delay
    wm_delay = _interval_us(params["watermark"]) // 1000
    # watermark after each batch: running max event time less the delay
    nb = len(batches)
    bmax = np.full(nb, np.iinfo(np.int64).min)
    np.maximum.at(bmax, bidx, et)
    after = np.maximum.accumulate(bmax) - wm_delay
    # Spark drops a row as late against the watermark the previous batch
    # ran with, which itself came from the batches before that: rows of
    # batch i meet the watermark computed after batch i - 2
    wm = np.where(bidx >= 2, after[np.maximum(bidx - 2, 0)], np.iinfo(np.int64).min)
    out = {}
    dropped = 0
    for kind, width, slide in (("T", params["tumble_width"], params["tumble_width"]),
                               ("H", params["hop_width"], params["hop_slide"])):
        w_ms, s_ms = _interval_us(width) // 1000, _interval_us(slide) // 1000
        base = (et // s_ms) * s_ms
        for k in range(w_ms // s_ms):
            start = base - k * s_ms
            keep = start + w_ms > wm
            dropped += int((~keep).sum())
            sk, kk = start[keep], key[keep]
            pairs, counts = np.unique(np.stack([sk, kk.astype(np.int64)]), axis=1, return_counts=True)
            for (s, kv), c in zip(pairs.T, counts):
                out[f"{kind}|{s}|k{kv}"] = out.get(f"{kind}|{s}|k{kv}", 0) + int(c)
    return out, dropped


def _read_state(path):
    state = {}
    for line in open(path):
        if line.strip():
            k, v = line.rstrip("\n").rsplit(",", 1)
            state[k] = float(v)
    return state


def _stream_tags(out_dir):
    return [os.path.basename(p)[:-len(".batches.csv")] for p in sorted(glob.glob(f"{out_dir}/*.batches.csv"))]


def check_stream_window(out_dir, params):
    results = []
    for tag in _stream_tags(out_dir):
        batches = _read_batches(f"{out_dir}/{tag}.batches.csv")
        got = _read_state(f"{out_dir}/{tag}.state.csv")
        if not batches:
            results.append(_result(tag, False, "no batches"))
            continue
        want, dropped = _window_expected(tag, batches, params, out_dir)
        bad = sum(1 for k in set(want) | set(got) if want.get(k, 0) != got.get(k, 0))
        results.append(_result(tag, bad == 0 and len(got) > 0,
                               f"batches={len(batches)} rows={batches[-1][2]} windows={len(want)} "
                               f"late_dropped={dropped} mismatched={bad}"))
    return results


def check_stream_upsert(out_dir, params):
    results = []
    salt = params["salt"]
    for tag in _stream_tags(out_dir):
        batches = _read_batches(f"{out_dir}/{tag}.batches.csv")
        got = _read_state(f"{out_dir}/{tag}.state.csv")
        if not batches:
            results.append(_result(tag, False, "no batches"))
            continue
        n = batches[-1][2]
        v = np.arange(n, dtype=np.uint64)
        tk = (gen.stream_bits(v, salt, 1) % np.uint64(params["table_keys"])).astype(np.int64)
        gk = (gen.stream_bits(v, salt, 2) % np.uint64(params["groups"])).astype(np.int64)
        val = (gen.stream_bits(v, salt, 3) % np.uint64(10000)).astype(np.int64)
        # latest row per table key = its last occurrence
        _, last_rev = np.unique(tk[::-1], return_index=True)
        last = n - 1 - last_rev
        sums = np.bincount(gk[last], weights=val[last], minlength=params["groups"])
        want = {f"g{g}": float(s) for g, s in enumerate(sums)}
        bad = sum(1 for k in set(want) | set(got) if want.get(k, 0.0) != got.get(k, 0.0))
        results.append(_result(tag, bad == 0 and len(got) > 0,
                               f"batches={len(batches)} rows={n} keys={len(last)} mismatched={bad}"))
    return results


def run(workload, input_dir, out_dir, params):
    if workload == "batch_stream_table":
        return check_batch_stream_table(input_dir, out_dir, params)
    if workload == "batch_dedup":
        return check_batch_dedup(input_dir, out_dir, params)
    if workload == "stream_window":
        return check_stream_window(out_dir, params)
    return check_stream_upsert(out_dir, params)


# ---- per-layer metrics (traced runs) ---------------------------------------------

def layer_metrics(workload, out_dir, res, checks, single, bench):
    """Every per-layer metric BENCHMARK.json declares; a layer this
    workload does not exercise reports 0."""
    spans_path = os.path.join(out_dir, "spans.json")
    spans = json.load(open(spans_path)) if os.path.exists(spans_path) else []
    m = {}

    def add(k, v):
        m[k] = m.get(k, 0.0) + v
    for s in spans:
        name = s["name"]
        if name.startswith(("operators.", "dedup.", "functions.")):
            add(f"{name}.self_s", s["self_s"])
            add(f"{name}.gc_s", s["gc_s"])
            add(f"{name}.rows_out", s["counts"].get("rows_out", 0))
            add(f"{name}.shuffle_write_bytes", s["shuffle_write_bytes"])
            add(f"{name}.spill_bytes", s["spill_bytes"])
            if name.startswith("operators."):
                add("operators.exchanges", s["counts"].get("exchanges", 0))
        elif name.startswith("sources."):
            add("sources.scan_s", s["self_s"])
            add("sources.scan.gc_s", s["gc_s"])
            add("sources.rows_read", s["input_rows"])
            add("sources.bytes_read", s["input_bytes"])
    m.update(res.get("layers", {}))
    jc = m.get("operators.Joins.windowedJoin.candidates", 0)
    if jc:
        m["operators.Joins.windowedJoin.matched"] = m.get("operators.Joins.windowedJoin.rows_out", 0)
        m["operators.Joins.windowedJoin.match_ratio"] = m["operators.Joins.windowedJoin.matched"] / jc
    if workload == "batch_dedup":
        cand = m.get("dedup.minhashPairsFromSigs.rows_out", 0)
        ver = m.get("dedup.verifyJaccard.rows_out", 0)
        m["dedup.candidates"] = cand
        m["dedup.verified"] = ver
        m["dedup.verify_yield"] = ver / cand if cand else 0.0
        sig = m.get("functions.minhashSigs.self_s", 0)
        docs = m.get("functions.minhashSigs.rows_out", 0)
        m["functions.rows_per_s"] = docs / sig if sig else 0.0
        for c in checks:
            if c["check"] == "planted_recall":
                m["dedup.planted_recall"] = c["value"]
                m["dedup.planted_found"] = c["found"]
                m["dedup.planted_total"] = c["planted"]
    one, many = (single or {}).get("end_to_end", {}).get("result_s"), res["end_to_end"].get("result_s")
    if one and many:
        m["operators.single_core_result_s"] = one
        m["operators.speedup_vs_1core"] = one / many
    return {d["name"]: {"value": float(m.get(d["name"], 0.0)), "unit": d["unit"]} for d in bench["per_layer"]}
