#!/usr/bin/env python3
"""Hybrid x10 oracles for the three queries whose full-SQL replay is
infeasible in DuckDB at the sf1-equivalent corpus (r9 verdict #2).

Usage: hybrid_sweep.py <scaleDir> <outDir> {d15|e3|e6}

Pattern (established by d15 in r8): DuckDB computes the cheap
DETERMINISTIC prefix of the oracle's own SQL; Python/numpy closes the
expensive tail with op-for-op mirrored arithmetic; the result is
compared EXACTLY against the Spark parquet. Every quantized step is
integer (order-free, engine-independent); the one order-sensitive
piece — e3's left-associated 64-term L2 fold — is replayed term by
term in the SQL's association order, so doubles match bit-for-bit.

Exit 0 = verified, 1 = mismatch.
"""
import sys, json, glob, os
import numpy as np
import duckdb
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from verify_local import canon



def connect():
    # capped + spill-enabled connection (r13): without a memory_limit
    # DuckDB never spills blocking operators; the x1000 sweep was
    # OOM-killed under concurrent load. Override via BIGCOMPARE_MEM.
    con = duckdb.connect()
    con.execute("PRAGMA memory_limit='%s'" % os.environ.get("BIGCOMPARE_MEM", "48GB"))
    spill = os.environ.get("BIGCOMPARE_SPILL", "/tmp/duck_spill")
    os.makedirs(spill, exist_ok=True)
    con.execute(f"PRAGMA temp_directory='{spill}'")
    return con

def round_half_away(v):
    return np.where(v >= 0, np.floor(v + 0.5), np.ceil(v - 0.5)).astype(np.int64)


def spark_rows(out_dir, name, cols):
    files = glob.glob(f"{out_dir}/{name}/*.parquet")
    tab = pq.read_table(files)  # all parts — a multi-part output must not drop rows
    assert sorted(tab.column_names) == sorted(cols), \
        f"cols spark={sorted(tab.column_names)} expect={sorted(cols)}"
    order = sorted(cols)
    return [tuple(r[c] for c in order) for r in tab.to_pylist()], order


def compare(name, got_rows, want_rows, order):
    g, w = canon(got_rows), canon(want_rows)
    if len(g) != len(w):
        print(f"FAIL {name}: rows spark={len(g)} hybrid={len(w)}")
        return 1
    bad = [(a, b) for a, b in zip(g, w) if a != b]
    if bad:
        print(f"FAIL {name}: {len(bad)}/{len(g)} rows differ; first:")
        print(f"  cols : {order}\n  spark: {bad[0][0]}\n  hybrid: {bad[0][1]}")
        return 1
    print(f"PASS {name} ({len(g)} rows, hybrid)")
    return 0


def load_embeddings(sf_dir):
    src = f"{sf_dir}/embeddings.parquet"
    pat = f"{src}/*.parquet" if os.path.isdir(src) else src
    con = connect()
    rows = con.execute(
        f"SELECT vec_id, embedding FROM '{pat}' ORDER BY vec_id").fetchall()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    # float32 storage CAST to double exactly, like the oracle's
    # CAST(x AS DOUBLE)
    X = np.array([r[1] for r in rows], dtype=np.float32).astype(np.float64)
    return ids, X


def d15(sf_dir, out_dir, chunks=1):
    # DuckDB computes the oracle's own CTE chain through `edges`
    # (token minhash signatures -> band buckets -> pair edges); Python
    # union-find replaces only the recursive label-spread CTE, whose
    # fixpoint (min doc_id per component) is engine-independent.
    # chunks > 1 (the x1000 path, mode "d15big"): the monolithic replay
    # of the ~300M-token md5 stream exceeds this box's spill disk, but
    # the SIGNATURE computation is per-doc, so DuckDB runs the
    # oracle's own sig CTE per doc_id%chunks slice (bounded spill) and
    # numpy rebuilds the band-star edges (min doc_id per band bucket —
    # the oracle's e0/e1 window, order-free) from the 5M signatures.
    sql = json.load(open(f"{out_dir}/oracle_sql.json"))["d15_components"]
    i = sql.index("lab AS (")
    prefix = sql[:i]
    docs = f"{sf_dir}/documents.parquet"
    pat = f"{docs}/*.parquet" if os.path.isdir(docs) else docs
    con = connect()
    if chunks == 1:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{pat}'")
        nodes = [r[0] for r in con.execute(
            prefix + "sel AS (SELECT doc_id FROM sig) SELECT doc_id FROM sel").fetchall()]
        edges = con.execute(
            prefix + "sel AS (SELECT src, dst FROM edges) SELECT src, dst FROM sel"
        ).fetchall()
    else:
        sig_prefix = sql[:sql.index("e0 AS (")]
        did = []
        m0 = []
        m1 = []
        for c in range(chunks):
            con.execute("CREATE OR REPLACE VIEW documents AS "
                        f"SELECT * FROM '{pat}' WHERE doc_id % {chunks} = {c}")
            t = con.execute(
                sig_prefix + "sel AS (SELECT doc_id, m0, m1 FROM sig) "
                "SELECT doc_id, m0, m1 FROM sel").fetch_arrow_table()
            did.append(t["doc_id"].to_numpy().astype(np.int64))
            m0.append(t["m0"].to_numpy().astype(np.int64))
            m1.append(t["m1"].to_numpy().astype(np.int64))
            print(f"  [d15big] sig chunk {c + 1}/{chunks}: {len(did[-1])} docs", flush=True)
        did = np.concatenate(did)
        m0 = np.concatenate(m0)
        m1 = np.concatenate(m1)
        nodes = did.tolist()
        # band-star edges: src <-> min(doc_id) within each band bucket,
        # exactly the oracle's e0/e1 window min + symmetrization
        pairs = []
        for m in (m0, m1):
            o = np.lexsort((did, m))
            ms, ds = m[o], did[o]
            grp_start = np.empty(len(ms), dtype=bool)
            grp_start[0] = True
            grp_start[1:] = ms[1:] != ms[:-1]
            root = ds[np.maximum.accumulate(np.where(grp_start,
                np.arange(len(ds)), 0))]
            keep = ds != root
            pairs.append(np.stack([ds[keep], root[keep]], axis=1))
        ep = np.concatenate(pairs)
        edges = [tuple(r) for r in ep.tolist()]
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp = {n: find(n) for n in nodes}
    sizes = {}
    for n, c in comp.items():
        sizes[c] = sizes.get(c, 0) + 1
    want = [(n, comp[n], sizes[comp[n]]) for n in nodes]
    got, order = spark_rows(out_dir, "d15_components",
                            ["doc_id", "comp", "comp_size"])
    idx = [["comp", "comp_size", "doc_id"].index(c) for c in order]
    want_rows = [tuple((r[1], r[2], r[0])[i] for i in idx) for r in want]
    return compare("d15_components", got, want_rows, order)


def l2_fold(X, C):
    """Left-associated 64-term squared-L2 fold, the SQL's association
    order: acc = t1; acc = acc + t_k. X: (n, 64), C: (m, 64) ->
    (n, m) doubles bit-identical to the oracle expression."""
    n, d = X.shape
    m = C.shape[0]
    diff0 = X[:, 0:1] - C[None, :, 0]
    acc = diff0 * diff0
    for k in range(1, d):
        t = X[:, k:k + 1] - C[None, :, k]
        acc = acc + t * t
    return acc


def e3(sf_dir, out_dir):
    # Prefix (engine-independent): init centroids = first 16 vectors;
    # every Lloyd update is EXACT integer sums / counts. The tail
    # (three 20k x 16 assignment rounds + the probe search) is numpy
    # with the left-associated fold mirroring the SQL's 64-term
    # expression order, so the double distances are bit-identical.
    ids, X = load_embeddings(sf_dir)
    C = X[:16].copy()  # c0: ORDER BY vec_id LIMIT 16 (ids are dense-sorted)
    Xq6 = round_half_away(X * 1e6)

    def assign(C):
        dist = l2_fold(X, C)
        return np.argmin(dist, axis=1)  # ties -> smallest cid (first min)

    cids = list(range(16))  # active cluster ids (SQL: c1 keeps only
                            # non-empty groups; assignment cross-joins
                            # whatever cids exist)
    for _ in range(2):  # two Lloyd rounds: a1/u1/c1, a2/u2/c2
        a = assign(C)   # indices into `cids`
        newC, newIds = [], []
        for k, cid_ in enumerate(cids):
            sel = Xq6[a == k]
            if len(sel) == 0:
                continue
            # u: sum(round(x*1e6)) as int64; c: (s/1e6)/n per element
            newC.append((sel.sum(axis=0, dtype=np.int64) / 1e6) / float(len(sel)))
            newIds.append(cid_)
        C = np.array(newC)
        cids = newIds
    af = assign(C)

    # probes: queries q_id < 5, top-4 cells by (dist, cid)
    nrm = round_half_away(X * X * 1e12).sum(axis=1, dtype=np.int64)
    out = []
    for q in range(5):
        dq = l2_fold(X[q:q + 1], C)[0]
        cells = sorted(range(len(cids)), key=lambda c: (dq[c], cids[c]))[:4]
        cand = np.where(np.isin(af, cells) & (ids != q))[0]
        dots = round_half_away(X[cand] * X[q] * 1e12).sum(axis=1, dtype=np.int64)
        qn = np.sqrt(nrm[q] / 1e12)
        sims = (dots / 1e12) / (qn * np.sqrt(nrm[cand] / 1e12))
        rk = sorted(range(len(cand)), key=lambda i: (-sims[i], ids[cand[i]]))[:5]
        for r, i in enumerate(rk):
            s6 = float(round_half_away(np.array([sims[i] * 1e6]))[0]) / 1e6
            out.append((int(ids[cand[i]]), int(q), int(r + 1), s6))
    got, order = spark_rows(out_dir, "e3_ivf_ann",
                            ["q_id", "rank", "vec_id", "sim"])
    idx = [["vec_id", "q_id", "rank", "sim"].index(c) for c in order]
    want_rows = [tuple(r[i] for i in idx) for r in out]
    return compare("e3_ivf_ann", got, want_rows, order)


def e6(sf_dir, out_dir):
    # Prefix in DuckDB: the oracle's own SQL through `assigned`+`csz`
    # (exact-integer centroid distances — cheap). Tail in numpy: the
    # within-cluster pairwise integer dots (the O(cluster^2) piece
    # that is oracle-infeasible at x10), threshold compare in the
    # identical double formula.
    sql = json.load(open(f"{out_dir}/oracle_sql.json"))["e6_semdedup"]
    i = sql.index("pairs AS (")
    prefix = sql[:i]
    emb = f"{sf_dir}/embeddings.parquet"
    pat = f"{emb}/*.parquet" if os.path.isdir(emb) else emb
    con = connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{pat}'")
    assigned = dict(con.execute(
        prefix + "sel AS (SELECT vec_id, cid FROM assigned) "
        "SELECT vec_id, cid FROM sel").fetchall())
    ids, X = load_embeddings(sf_dir)
    cid = np.array([assigned[int(v)] for v in ids], dtype=np.int64)
    nrm = round_half_away(X * X * 1e12).sum(axis=1, dtype=np.int64)
    csize = {c: int((cid == c).sum()) for c in range(16)}
    rep = {}
    for c in range(16):
        members = np.where(cid == c)[0]
        for j in range(1, len(members)):
            bi = members[j]
            vb = int(ids[bi])
            nb = np.sqrt(nrm[bi] / 1e12)
            pre = members[:j]
            dots = round_half_away(X[pre] * X[bi] * 1e12).sum(
                axis=1, dtype=np.int64)
            na = np.sqrt(nrm[pre] / 1e12)
            ok = (dots / 1e12) / (na * nb) >= 0.45
            if ok.any():
                rep[vb] = int(ids[pre][ok].min())
    want = []
    for i_, v in enumerate(ids):
        v = int(v)
        want.append((v, int(cid[i_]), csize[int(cid[i_])],
                     v in rep, rep.get(v, v)))
    got, order = spark_rows(out_dir, "e6_semdedup",
                            ["vec_id", "cid", "csize", "is_dup", "keep_id"])
    idx = [["vec_id", "cid", "csize", "is_dup", "keep_id"].index(c)
           for c in order]
    want_rows = [tuple(r[i] for i in idx) for r in want]
    return compare("e6_semdedup", got, want_rows, order)


def j11(sf_dir, out_dir):
    # r11: the full-SQL oracle (brute-force all-pairs NN,
    # customer x supplier = 1.5M x 100k at x100) spills >66 GB in
    # DuckDB even solo — the same disk wall as e5/d31. Independent
    # numpy replay: grid-bucketed exact NN (cells of W=5000, 3x3
    # neighborhood, escalate the tail to a ring that covers the
    # oracle's own d2 <= 1e10 radius cap). All distances exact int64;
    # ties resolved (d2 ASC, cat_id ASC) like the oracle's window.
    # The algorithm is INDEPENDENT of the engine's zone join (1-D
    # zones + per-probe rank there; 2-D cells + global lexsort here).
    def keys(table, col):
        src = f"{sf_dir}/{table}.parquet"
        pat = f"{src}/*.parquet" if os.path.isdir(src) else src
        con = connect()
        return np.array([r[0] for r in con.execute(
            f"SELECT {col} FROM '{pat}'").fetchall()], dtype=np.int64)

    def xy(k):
        return (k * 2654435761) % 1000000, (k * 40503) % 1000000

    cat_id = keys("supplier", "s_suppkey")
    p_id = keys("customer", "c_custkey")
    cx, cy = xy(cat_id); px, py = xy(p_id)
    W = 5000
    NC = 1000000 // W  # cells per axis
    ccell = (cx // W) * NC + (cy // W)
    order_c = np.argsort(ccell, kind="stable")
    ccell_s = ccell[order_c]
    # CSR over cells
    starts = np.searchsorted(ccell_s, np.arange(NC * NC))
    ends = np.searchsorted(ccell_s, np.arange(NC * NC), side="right")

    def ring(idx, r):
        """candidate pairs (probe row, catalog row) for probes `idx`
        over the (2r+1)x(2r+1) cell neighborhood; returns per-probe
        best (d2, cat_id) with oracle tie order, np.iinfo max if no
        candidate."""
        pcx = px[idx] // W; pcy = py[idx] // W
        bd2 = np.full(len(idx), np.iinfo(np.int64).max, dtype=np.int64)
        bct = np.full(len(idx), np.iinfo(np.int64).max, dtype=np.int64)
        for dx in range(-r, r + 1):
            gx = pcx + dx
            okx = (gx >= 0) & (gx < NC)
            for dy in range(-r, r + 1):
                gy = pcy + dy
                ok = okx & (gy >= 0) & (gy < NC)
                if not ok.any():
                    continue
                cell = gx[ok] * NC + gy[ok]
                s = starts[cell]; e = ends[cell]
                cnt = e - s
                has = cnt > 0
                if not has.any():
                    continue
                rows = np.where(ok)[0][has]
                s = s[has]; cnt = cnt[has]
                pr = np.repeat(rows, cnt)
                tot = int(cnt.sum())
                flat = (np.repeat(s, cnt) +
                        (np.arange(tot) -
                         np.repeat(np.cumsum(cnt) - cnt, cnt)))
                ci = order_c[flat]
                dxv = px[idx][pr] - cx[ci]
                dyv = py[idx][pr] - cy[ci]
                d2 = dxv * dxv + dyv * dyv
                # per-offset reduce: (d2, cat_id) lexicographic min
                o = np.lexsort((cat_id[ci], d2, pr))
                pr_s, first = np.unique(pr[o], return_index=True)
                d2m = d2[o][first]; ctm = cat_id[ci][o][first]
                upd = (d2m < bd2[pr_s]) | ((d2m == bd2[pr_s]) &
                                           (ctm < bct[pr_s]))
                bd2[pr_s[upd]] = d2m[upd]
                bct[pr_s[upd]] = ctm[upd]
        return bd2, bct

    all_idx = np.arange(len(p_id))
    bd2, bct = ring(all_idx, 1)
    # a 3x3 hit at d < W is provably global-NN (a point at exactly W
    # can land in the NEXT cell, outside the block — so strict);
    # everything else re-searches a 43x43 ring whose 21*W = 105000
    # guarantee covers the oracle's 1e5 radius cap: any NN missed by
    # the ring is > 105000 away, hence already outside d2 <= 1e10
    unsure = np.where(bd2 >= np.int64(W) * W)[0]
    if len(unsure):
        bd2u, bctu = ring(unsure, 21)
        bd2[unsure] = bd2u; bct[unsure] = bctu
    keep = bd2 <= 10000000000
    want = list(zip(p_id[keep].tolist(), bct[keep].tolist(),
                    bd2[keep].tolist()))
    got, order = spark_rows(out_dir, "j11_zone_crossmatch",
                            ["p_id", "cat_id", "d2"])
    idx2 = [["p_id", "cat_id", "d2"].index(c) for c in order]
    want_rows = [tuple(r[i] for i in idx2) for r in want]
    return compare("j11_zone_crossmatch", got, want_rows, order)


def st14(sf_dir, out_dir):
    # r11 fallback for the solo full-SQL sweep: the recursive-CTE
    # replay walks 10M rows one rank per recursion round in DuckDB.
    # Independent numpy replay: the same integer fixed-point EWMA
    #   efp_1 = vc*2^20;  efp_n = (efp_{n-1} + vc_n*2^20) // 2
    # vectorized ACROSS users per rank step (max rank ~ events/user).
    # NOTE DuckDB's // TRUNCATES toward zero (numpy's floors) — all
    # observed vc are nonnegative, but mirror truncation explicitly.
    # Compare stays inside DuckDB (EXCEPT ALL, the bigcompare trick —
    # 10M-row Python tuple materialization is the d9 bottleneck).
    src = f"{sf_dir}/events.parquet"
    pat = f"{src}/*.parquet" if os.path.isdir(src) else src
    con = connect()
    kind = dict((r[0], r[1]) for r in
                con.execute(f"DESCRIBE SELECT * FROM '{pat}'").fetchall())
    t_us = ("ts // 1000" if kind.get("ts") == "BIGINT"
            else "epoch_us(ts)")
    rows = con.execute(
        f"SELECT user_id, event_id, {t_us} AS t_us, "
        f"CAST(round(value * 100) AS BIGINT) AS vc FROM '{pat}'"
    ).fetch_arrow_table()
    uid = rows["user_id"].to_numpy().astype(np.int64)
    eid = rows["event_id"].to_numpy().astype(np.int64)
    tus = rows["t_us"].to_numpy().astype(np.int64)
    vc = rows["vc"].to_numpy().astype(np.int64)
    o = np.lexsort((eid, tus, uid))
    uid, eid, tus, vc = uid[o], eid[o], tus[o], vc[o]
    n = len(uid)
    newu = np.empty(n, dtype=bool)
    newu[0] = True
    newu[1:] = uid[1:] != uid[:-1]
    starts = np.where(newu)[0]
    counts = np.diff(np.append(starts, n))
    efp = np.empty(n, dtype=np.int64)
    efp[starts] = vc[starts] * 1048576
    maxc = int(counts.max())
    for r in range(1, maxc):
        live = starts[counts > r] + r
        s = efp[live - 1] + vc[live] * 1048576
        efp[live] = np.where(s >= 0, s // 2, -((-s) // 2))  # truncate
    ewma = efp.astype(np.float64) / 1048576.0 / 100.0
    import pyarrow as pa
    want = pa.table({"user_id": uid, "event_id": eid, "t_us": tus,
                     "vc": vc, "efp": efp, "ewma": ewma})
    files = glob.glob(f"{out_dir}/st14_stream_ewma/*.parquet")
    con.register("want", want)
    con.execute(f"CREATE TEMP TABLE got AS SELECT user_id, event_id, "
                f"t_us, vc, efp, ewma FROM read_parquet({files!r})")
    nw = con.execute("SELECT count(*) FROM want").fetchone()[0]
    ng = con.execute("SELECT count(*) FROM got").fetchone()[0]
    if nw != ng:
        print(f"FAIL st14_stream_ewma: rows spark={ng} hybrid={nw}")
        return 1
    d1 = con.execute("SELECT count(*) FROM (SELECT * FROM want "
                     "EXCEPT ALL SELECT * FROM got)").fetchone()[0]
    d2 = con.execute("SELECT count(*) FROM (SELECT * FROM got "
                     "EXCEPT ALL SELECT * FROM want)").fetchone()[0]
    if d1 or d2:
        print(f"FAIL st14_stream_ewma: {d1} hybrid-only / {d2} "
              f"spark-only rows of {nw}")
        return 1
    print(f"PASS st14_stream_ewma ({nw} rows, hybrid + duckdb "
          f"set-difference)")
    return 0


def e5(sf_dir, out_dir):
    # r11: the full-SQL replay (PQ training + ADC over 200k vectors)
    # spills past the free disk even solo — numpy mirror of the
    # oracle's own SQL, op-for-op: 16 seed centroids (vec_id<16) per
    # 8-dim subspace, ONE k-means step with the REAL-truncated mean
    # (CAST(sum(round(x*1e6))/1e6/count AS REAL) back to DOUBLE),
    # reassign, integer ADC LUT for the 5 query vectors, top-50
    # shortlist, exact integer rerank to top-5. Every distance is a
    # per-element round(..*1e12) int64 sum — order-free.
    ids, X = load_embeddings(sf_dir)
    n, dim = X.shape
    M = dim // 8
    Xs = X.reshape(n, M, 8)
    idx_of = {int(v): i for i, v in enumerate(ids)}

    def q12(a):  # round(a*1e12) as int64
        return round_half_away(a * 1e12)

    snorm = q12(Xs * Xs).sum(axis=2, dtype=np.int64)       # (n, M)
    fnorm = snorm.sum(axis=1, dtype=np.int64)              # (n,)

    def assign(cb):
        # cb: (16, M, 8) float64 -> codes (n, M) int: argmin
        # (nrm_s - 2*dot + nrmc), tie c ASC
        cn = q12(cb * cb).sum(axis=2, dtype=np.int64)      # (16, M)
        best_d = None; best_c = None
        for c in range(16):
            dot = q12(Xs * cb[c][None, :, :]).sum(axis=2, dtype=np.int64)
            d = snorm - 2 * dot + cn[c][None, :]
            if best_d is None:
                best_d = d.copy(); best_c = np.zeros((n, M), np.int64)
            else:
                upd = d < best_d
                best_d[upd] = d[upd]; best_c[upd] = c
        return best_c

    cb0 = np.stack([Xs[idx_of[c]] for c in range(16)])     # seed codebook
    a1 = assign(cb0)
    # one k-means step with the oracle's REAL-truncated mean; empty
    # cells drop out of the codebook (JOIN semantics) — keep a mask
    x6 = round_half_away(Xs * 1e6)                         # (n, M, 8) int
    cb1 = np.zeros((16, M, 8))
    alive = np.zeros((16, M), dtype=bool)
    for c in range(16):
        for m in range(M):
            mem = a1[:, m] == c
            k = int(mem.sum())
            if k == 0:
                continue
            alive[c, m] = True
            s = x6[mem, m, :].sum(axis=0, dtype=np.int64)
            cb1[c, m, :] = (s.astype(np.float64) / 1e6 / float(k)) \
                .astype(np.float32).astype(np.float64)
    # reassign against the updated codebook (dead cells unreachable:
    # give them +inf distance)
    cn1 = q12(cb1 * cb1).sum(axis=2, dtype=np.int64)
    BIG = np.int64(2**62)
    best_d = None; codes = None
    for c in range(16):
        dot = q12(Xs * cb1[c][None, :, :]).sum(axis=2, dtype=np.int64)
        d = snorm - 2 * dot + cn1[c][None, :]
        d = np.where(alive[c][None, :], d, BIG)
        if best_d is None:
            best_d = d.copy(); codes = np.zeros((n, M), np.int64)
        else:
            upd = d < best_d
            best_d[upd] = d[upd]; codes[upd] = c
    want = []
    qrows = np.where(ids < 5)[0]
    for qi in sorted(qrows, key=lambda i: int(ids[i])):
        q_id = int(ids[qi])
        # LUT qdist[m, c] for this query (dead cells never indexed:
        # codes only contains alive cells)
        lut = np.zeros((M, 16), dtype=np.int64)
        for c in range(16):
            dot = q12(Xs[qi] * cb1[c]).sum(axis=1, dtype=np.int64)
            lut[:, c] = snorm[qi] - 2 * dot + cn1[c]
        adist = lut[np.arange(M)[None, :], codes].sum(axis=1,
                                                      dtype=np.int64)
        mask = np.arange(n) != qi
        cand = np.where(mask)[0]
        o = np.lexsort((ids[cand], adist[cand]))[:50]
        short = cand[o]
        # exact integer rerank
        dote = q12(X[short] * X[qi][None, :]).sum(axis=1, dtype=np.int64)
        edist = fnorm[qi] - 2 * dote + fnorm[short]
        o2 = np.lexsort((ids[short], edist))[:5]
        for r, j in enumerate(o2, start=1):
            want.append((q_id, r, int(ids[short][j]),
                         int(adist[short][j]), int(edist[j])))
    got, order = spark_rows(out_dir, "e5_pq_adc",
                            ["q_id", "rank", "vec_id", "adist", "edist"])
    idx2 = [["q_id", "rank", "vec_id", "adist", "edist"].index(c)
            for c in order]
    want_rows = [tuple(r[i] for i in idx2) for r in want]
    return compare("e5_pq_adc", got, want_rows, order)


def d31(sf_dir, out_dir):
    # r11: the full-SQL replay (within-cell all-pairs candidate join
    # feeding a window) spills past the free disk even solo — numpy
    # mirror of the oracle's own SQL: sign buckets on the first nbits
    # dims, md5(vec_id)-salted sub-cells of <=128 members, exact
    # integer pair dots within (bucket, sub), per-node top-3 by
    # (sim DESC NULLS LAST, v ASC), mutual edges, triangles, and the
    # integer clustering coefficient.
    import hashlib, math
    ids, X = load_embeddings(sf_dir)
    n, dim = X.shape
    nbits = min(16, max(8, math.ceil(math.log2(n / 4.0))))
    pows = (np.int64(1) << np.arange(nbits, dtype=np.int64))
    bucket = ((X[:, :nbits] > 0.0) * pows[None, :]).sum(
        axis=1, dtype=np.int64)
    ub, inv, cnt = np.unique(bucket, return_inverse=True,
                             return_counts=True)
    nsub = (cnt + 127) // 128
    md5v = np.array([int(hashlib.md5(str(int(v)).encode())
                         .hexdigest()[:8], 16) for v in ids],
                    dtype=np.int64)
    sub = md5v % nsub[inv]
    nrm = round_half_away(X * X * 1e12).sum(axis=1, dtype=np.int64)
    # group by (bucket, sub); within each, all pairs
    gkey = inv * 1024 + sub  # nsub <= ceil(cnt/128) < 1024 at x100
    assert int(nsub.max()) < 1024
    order = np.lexsort((ids, gkey))
    gs = gkey[order]
    starts = np.concatenate(([0], np.where(gs[1:] != gs[:-1])[0] + 1,
                             [len(gs)]))
    # directed candidate edges with sims
    eu, ev, es = [], [], []
    for a, b in zip(starts[:-1], starts[1:]):
        g = order[a:b]
        if len(g) < 2:
            continue
        Xg = X[g]
        dots = np.empty((len(g), len(g)), dtype=np.int64)
        for i in range(len(g)):
            dots[i] = round_half_away(Xg * Xg[i][None, :] * 1e12).sum(
                axis=1, dtype=np.int64)
        na = np.sqrt(nrm[g] / 1e12)
        den = na[:, None] * na[None, :]
        with np.errstate(divide="ignore", invalid="ignore"):
            sim = (dots / 1e12) / den
        iu, iv = np.triu_indices(len(g), k=1)
        # ids within a group are not sorted by construction order of
        # `order` (lexsort secondary key IS ids) — a < b holds
        ga, gb = g[iu], g[iv]
        s = sim[iu, iv]
        nullmask = den[iu, iv] == 0.0
        s = np.where(nullmask, np.nan, s)
        eu.append(ids[ga]); ev.append(ids[gb]); es.append(s)
        eu.append(ids[gb]); ev.append(ids[ga]); es.append(s)
    eu = np.concatenate(eu); ev = np.concatenate(ev)
    es = np.concatenate(es)
    # top-3 per u: (sim DESC NULLS LAST, v ASC)
    isnull = np.isnan(es)
    skey = np.where(isnull, -np.inf, es)
    o = np.lexsort((ev, -skey, isnull, eu))
    eu, ev = eu[o], ev[o]
    first = np.concatenate(([True], eu[1:] != eu[:-1]))
    gstart = np.where(first)[0]
    rank = np.arange(len(eu)) - np.repeat(gstart, np.diff(
        np.append(gstart, len(eu))))
    keep = rank < 3
    dir_edges = set(zip(eu[keep].tolist(), ev[keep].tolist()))
    mutual = sorted((u, v) for (u, v) in dir_edges
                    if u < v and (v, u) in dir_edges)
    adj = {}
    for u, v in mutual:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    ntri = {}
    for u, v in mutual:
        for w in adj[u]:
            if w > v and w in adj[v]:
                for x_ in (u, v, w):
                    ntri[x_] = ntri.get(x_, 0) + 1
    want = []
    for u in sorted(adj):
        deg = len(adj[u])
        nt = ntri.get(u, 0)
        cc = (nt * 1000000) // ((deg * (deg - 1)) // 2) if deg >= 2 else 0
        want.append((u, deg, nt, cc))
    got, order_ = spark_rows(out_dir, "d31_knn_triangles",
                             ["vec_id", "deg", "n_tri", "cc_q6"])
    idx2 = [["vec_id", "deg", "n_tri", "cc_q6"].index(c) for c in order_]
    want_rows = [tuple(r[i] for i in idx2) for r in want]
    return compare("d31_knn_triangles", got, want_rows, order_)


def d30(sf_dir, out_dir, chunks=16):
    """×1000 oracle for d30_hll_cardinality (r13 verdict #1): the
    monolithic replay materializes the ~600M-item tokenized stream
    twice (register side + exact-distinct grounding) — >57 GB of
    DuckDB spill. Chunked replay instead; every arithmetic step is
    the ORACLE'S OWN SQL text (sliced from oracle_sql.json):

      pass 1, per doc_id%chunks slice (the bigram window partitions
      by doc_id, so doc-chunking is EXACT and bounds the window
      sort): materialize the oracle's `items` CTE once per chunk,
      then (a) register maxes via the oracle's hashed/rho text — HLL
      registers merge across chunks by MAX by construction; and
      (b) dump DISTINCT (kind, source, item), hive-partitioned by an
      item-hash slice. The slice key is MIRROR-internal partitioning
      only: equal items land in the same slice, so per-slice distinct
      counts ADD exactly across slices — this is the item-hash-
      partitioned grounding the r13 COVERAGE note called for, without
      re-tokenizing per slice.

      pass 2, per item slice: count(DISTINCT item) across all chunk
      dumps of that slice (bounded hash table); sum over slices =
      the exact grounding column.

      tail: the oracle's own est/est2 CTE text over the merged
      register grid (registered as `fullgrid`) — the estimator
      constants never leave the oracle string."""
    sql = json.load(open(f"{out_dir}/oracle_sql.json"))["d30_hll_cardinality"]
    items_prefix = sql[:sql.index("hashed AS (")]
    hashed_block = sql[sql.index("hashed AS ("):sql.index("regs AS (")]
    est_blocks = sql[sql.index("est AS ("):sql.index("exact AS (")]
    est_blocks = est_blocks.rstrip().rstrip(",")
    docs = f"{sf_dir}/documents.parquet"
    pat = f"{docs}/*.parquet" if os.path.isdir(docs) else docs
    con = connect()
    import shutil
    dump = os.environ.get("D30_DUMP", "/tmp/d30_distinct_dump")
    shutil.rmtree(dump, ignore_errors=True)
    regs = {}  # (kind, source, reg) -> max rho over chunks
    for c in range(chunks):
        con.execute("CREATE OR REPLACE VIEW documents AS "
                    f"SELECT * FROM '{pat}' WHERE doc_id % {chunks} = {c}")
        con.execute("DROP TABLE IF EXISTS items_mat")
        con.execute("CREATE TEMP TABLE items_mat AS " + items_prefix +
                    "sel AS (SELECT kind, source, item FROM items) "
                    "SELECT * FROM sel")
        for k, s, r, m in con.execute(
                "WITH items AS (SELECT * FROM items_mat), " + hashed_block +
                "regs AS (SELECT kind, source, reg, max(rho) AS m "
                "FROM hashed GROUP BY 1, 2, 3) "
                "SELECT kind, source, reg, m FROM regs").fetchall():
            key = (k, s, int(r))
            if int(m) > regs.get(key, -1):
                regs[key] = int(m)
        os.makedirs(f"{dump}/chunk{c}", exist_ok=True)
        con.execute(
            f"COPY (SELECT kind, source, item, hash(item) % {chunks} AS slice"
            f" FROM (SELECT DISTINCT kind, source, item FROM items_mat))"
            f" TO '{dump}/chunk{c}' (FORMAT parquet, PARTITION_BY (slice))")
        n = con.execute("SELECT count(*) FROM items_mat").fetchone()[0]
        print(f"  [d30big] chunk {c + 1}/{chunks}: {n} items", flush=True)
    con.execute("DROP TABLE IF EXISTS items_mat")
    groups = sorted(set((k, s) for (k, s, _r) in regs))
    exact = {g: 0 for g in groups}
    for s_ in range(chunks):
        files = glob.glob(f"{dump}/chunk*/slice={s_}/*.parquet")
        if not files:
            continue
        for k, sr, n in con.execute(
                f"SELECT kind, source, count(DISTINCT item) "
                f"FROM read_parquet({files!r}) GROUP BY 1, 2").fetchall():
            exact[(k, sr)] += int(n)
        print(f"  [d30big] slice {s_ + 1}/{chunks} counted", flush=True)
    shutil.rmtree(dump, ignore_errors=True)
    import pyarrow as pa
    kk, ss, mm = [], [], []
    for (k, s2) in groups:
        for r in range(64):
            kk.append(k)
            ss.append(s2)
            mm.append(regs.get((k, s2, r), 0))
    con.register("fullgrid", pa.table(
        {"kind": kk, "source": ss, "m": pa.array(mm, type=pa.int64())}))
    est_rows = con.execute(
        "WITH " + est_blocks +
        " SELECT kind, source, n_zero, z, est_hll FROM est2").fetchall()
    want = [(k, s2, int(nz), int(z), int(eh), exact[(k, s2)])
            for (k, s2, nz, z, eh) in est_rows]
    got, order = spark_rows(out_dir, "d30_hll_cardinality",
                            ["kind", "source", "n_zero", "z", "est_hll",
                             "exact"])
    idx = [["kind", "source", "n_zero", "z", "est_hll", "exact"].index(c)
           for c in order]
    want_rows = [tuple(r[i] for i in idx) for r in want]
    return compare("d30_hll_cardinality", got, want_rows, order)


def d28(sf_dir, out_dir, chunks=16):
    """×1000 oracle for d28_bigram_lm (r17 verdict #5): the monolithic
    replay exceeds the box's 62 GB spill disk at both 48 GB and 80 GB
    memory budgets (r16 note) — one query materializes the ~200M-row
    doc×bigram frame for three consumers plus a model join whose build
    side is itself ~200M distinct bigram types. Chunked replay instead;
    every arithmetic step is the ORACLE'S OWN SQL text (sliced from
    oracle_sql.json):

      pass 1, per doc_id%chunks slice (dbf is per-doc, so doc-chunking
      is EXACT): materialize the oracle's dbf CTE once per chunk, save
      it, and dump model PARTIALS hive-partitioned by key hash —
      (a,b,Σn_db) by hash(a,b), (a,Σn_db) by hash(a), DISTINCT tok by
      hash(tok). Equal keys land in the same slice, so per-slice sums
      and distinct counts are exact global values.

      pass 1b, per hash slice: aggregate partials into the exact model
      tables cbf/cuf and the vocabulary count v.

      pass 2, per doc chunk: the oracle's own li/ag CTE text over the
      chunk's saved dbf with cbf/cuf/v registered from the slice files
      (the chunk dbf is the bounded hash-join build side). ag is
      per-doc, so chunk outputs concatenate exactly; the oracle's final
      SELECT runs over the concatenation."""
    sql = json.load(open(f"{out_dir}/oracle_sql.json"))["d28_bigram_lm"]
    toks_prefix = sql[:sql.index("v AS (")]
    dbf_prefix = sql[:sql.index("cbf AS (")]
    li_block = sql[sql.index("li AS ("):sql.index("ag AS (")]
    ag_block = sql[sql.index("ag AS ("):sql.index("SELECT doc_id, n_bg")]
    final_sel = sql[sql.index("SELECT doc_id, n_bg"):]
    docs = f"{sf_dir}/documents.parquet"
    pat = f"{docs}/*.parquet" if os.path.isdir(docs) else docs
    con = connect()
    import shutil
    dump = os.environ.get("D28_DUMP", "/tmp/d28_dump")
    shutil.rmtree(dump, ignore_errors=True)
    for sub in ("dbf", "ag"):
        os.makedirs(f"{dump}/{sub}", exist_ok=True)
    for c in range(chunks):
        con.execute("CREATE OR REPLACE VIEW documents AS "
                    f"SELECT * FROM '{pat}' WHERE doc_id % {chunks} = {c}")
        con.execute("DROP TABLE IF EXISTS dbf_mat")
        con.execute("CREATE TEMP TABLE dbf_mat AS " + dbf_prefix +
                    "sel AS (SELECT doc_id, a, b, n_db FROM dbf) "
                    "SELECT * FROM sel")
        con.execute(f"COPY (SELECT * FROM dbf_mat) TO "
                    f"'{dump}/dbf/chunk{c}.parquet' (FORMAT parquet)")
        os.makedirs(f"{dump}/cab/chunk{c}", exist_ok=True)
        con.execute(
            f"COPY (SELECT a, b, CAST(sum(n_db) AS BIGINT) AS p_ab,"
            f" hash(a, b) % {chunks} AS slice FROM dbf_mat GROUP BY 1, 2)"
            f" TO '{dump}/cab/chunk{c}' (FORMAT parquet, PARTITION_BY (slice))")
        os.makedirs(f"{dump}/cua/chunk{c}", exist_ok=True)
        con.execute(
            f"COPY (SELECT a, CAST(sum(n_db) AS BIGINT) AS p_a,"
            f" hash(a) % {chunks} AS slice FROM dbf_mat GROUP BY 1)"
            f" TO '{dump}/cua/chunk{c}' (FORMAT parquet, PARTITION_BY (slice))")
        os.makedirs(f"{dump}/tok/chunk{c}", exist_ok=True)
        con.execute(
            "COPY (" + toks_prefix +
            "sel AS (SELECT DISTINCT tok FROM toks WHERE tok <> '') "
            f"SELECT tok, hash(tok) % {chunks} AS slice FROM sel)"
            f" TO '{dump}/tok/chunk{c}' (FORMAT parquet, PARTITION_BY (slice))")
        n = con.execute("SELECT count(*) FROM dbf_mat").fetchone()[0]
        print(f"  [d28big] chunk {c + 1}/{chunks}: {n} dbf rows", flush=True)
    con.execute("DROP TABLE IF EXISTS dbf_mat")
    v_total = 0
    for s_ in range(chunks):
        # an empty slice (no chunk hashed into it) has no files, and
        # read_parquet([]) errors: skip it; the cabs/cuas globs below
        # then read only the slices that were written
        files = glob.glob(f"{dump}/cab/chunk*/slice={s_}/*.parquet")
        if files:
            con.execute(f"COPY (SELECT a, b, CAST(sum(p_ab) AS BIGINT) AS c_ab"
                        f" FROM read_parquet({files!r}) GROUP BY 1, 2)"
                        f" TO '{dump}/cab_s{s_}.parquet' (FORMAT parquet)")
        files = glob.glob(f"{dump}/cua/chunk*/slice={s_}/*.parquet")
        if files:
            con.execute(f"COPY (SELECT a, CAST(sum(p_a) AS BIGINT) AS c_a"
                        f" FROM read_parquet({files!r}) GROUP BY 1)"
                        f" TO '{dump}/cua_s{s_}.parquet' (FORMAT parquet)")
        files = glob.glob(f"{dump}/tok/chunk*/slice={s_}/*.parquet")
        if files:
            v_total += con.execute(
                f"SELECT count(DISTINCT tok) FROM read_parquet({files!r})"
            ).fetchone()[0]
        print(f"  [d28big] model slice {s_ + 1}/{chunks}", flush=True)
    cabs = sorted(glob.glob(f"{dump}/cab_s*.parquet"))
    cuas = sorted(glob.glob(f"{dump}/cua_s*.parquet"))
    for c in range(chunks):
        con.execute(
            "COPY (WITH dbf AS (SELECT * FROM read_parquet("
            f"'{dump}/dbf/chunk{c}.parquet')), "
            f"cbf AS (SELECT * FROM read_parquet({cabs!r})), "
            f"cuf AS (SELECT * FROM read_parquet({cuas!r})), "
            f"v AS (SELECT CAST({v_total} AS BIGINT) AS v), "
            + li_block + ag_block +
            "SELECT doc_id, n_bg, lp_sum6 FROM ag)"
            f" TO '{dump}/ag/chunk{c}.parquet' (FORMAT parquet)")
        print(f"  [d28big] score chunk {c + 1}/{chunks}", flush=True)
    agf = sorted(glob.glob(f"{dump}/ag/chunk*.parquet"))
    con.execute(f"CREATE OR REPLACE VIEW ag AS SELECT * FROM read_parquet({agf!r})")
    tab = con.execute(final_sel).arrow()
    wd = tab["doc_id"].to_numpy().astype(np.int64)
    wn = tab["n_bg"].to_numpy().astype(np.int64)
    wl = tab["lp_sum6"].to_numpy().astype(np.int64)
    wm = tab["mean_lp"].to_numpy().astype(np.float64)
    got = pq.read_table(glob.glob(f"{out_dir}/d28_bigram_lm/*.parquet"))
    gd = got["doc_id"].to_numpy().astype(np.int64)
    o = np.argsort(gd, kind="stable")
    gd = gd[o]
    gn = got["n_bg"].to_numpy().astype(np.int64)[o]
    gl = got["lp_sum6"].to_numpy().astype(np.int64)[o]
    gm = got["mean_lp"].to_numpy().astype(np.float64)[o]
    shutil.rmtree(dump, ignore_errors=True)
    if len(gd) != len(wd):
        print(f"FAIL d28_bigram_lm: rows spark={len(gd)} hybrid={len(wd)}")
        return 1
    for name, gcol, wcol in (("doc_id", gd, wd), ("n_bg", gn, wn),
                             ("lp_sum6", gl, wl),
                             ("mean_lp", gm.view(np.int64), wm.view(np.int64))):
        if not np.array_equal(gcol, wcol):
            i_ = int(np.flatnonzero(gcol != wcol)[0])
            print(f"FAIL d28_bigram_lm: col {name} differs at sorted row "
                  f"{i_}: spark={gcol[i_]} hybrid={wcol[i_]}")
            return 1
    print(f"PASS d28_bigram_lm ({len(gd)} rows, hybrid)")
    return 0


def _popcount32(x):
    # numpy<2.0 has no bitwise_count; SWAR popcount, valid for
    # 0 <= x < 2^32 held in int64
    x = x - ((x >> 1) & 0x55555555)
    x = (x & 0x33333333) + ((x >> 2) & 0x33333333)
    x = (x + (x >> 4)) & 0x0F0F0F0F
    return ((x * 0x01010101) >> 24) & 0x3F


def _d4b_rem24(vals, b):
    """The 24 non-band bits of each 32-bit simhash, packed contiguously,
    for band b (bytes other than byte b)."""
    if b == 0:
        return vals >> 8
    if b == 1:
        return (vals & 0xff) | ((vals >> 16) << 8)
    if b == 2:
        return (vals & 0xffff) | ((vals >> 24) << 16)
    return vals & 0xffffff


def d4b(sf_dir, out_dir, chunks=16, refine=False):
    """×1000 oracle for d4b_simhash_pairs (r13 verdict #2): the oracle
    SQL is structurally all-pairs (`sh a JOIN sh b ON a.doc_id <
    b.doc_id` — 1.25e13 comparisons at 5M docs) on top of the d30
    token-stream wall. Mirror (the d15big / M6RecallSpec shape):

      1. per doc_id%chunks slice, DuckDB runs the oracle's OWN
         toks/th prefix (DISTINCT (doc_id, tok) → md5 h — per-doc, so
         doc-chunking is exact) and hands (doc_id, h) to numpy;
      2. numpy replays the vote arithmetic op-for-op: per doc,
         sj = Σ (2·((h>>j)&1) − 1) — an order-free integer sum —
         simhash = Σ_j (sj>0)·2^j, identical to the oracle's bits/sh
         CTEs (h is a nonnegative 32-bit value, so >>j&1 ≡ //2^j %2);
      3. pairs by 4×8-bit pigeonhole banding over DISTINCT simhash
         VALUES (exact for Hamming ≤ 3: ≤3 differing bits touch ≤3 of
         the 4 bands, so at least one band agrees — Manku et al.
         WWW'07, the engine's own argument at the value level), then
         expand value pairs to doc pairs; equal-value groups expand to
         within-group pairs (hamming 0, 4 shared bands).

      Compare: numpy lexsort on both sides, column-exact equality
      (the 18M-row output makes tuple canon the bottleneck)."""
    sql = json.load(open(f"{out_dir}/oracle_sql.json"))["d4b_simhash_pairs"]
    prefix = sql[:sql.index("bits AS (")]
    docs = f"{sf_dir}/documents.parquet"
    pat = f"{docs}/*.parquet" if os.path.isdir(docs) else docs
    con = connect()
    # sig cache: the chunked DuckDB replay is deterministic in the
    # corpus, so a re-run (e.g. after tuning the pair stage) skips it.
    # Keyed on the fixture's _manifest token (falling back to the
    # corpus dir mtime) in addition to the path, mirroring the
    # M6Density fix (r14 advice): a regenerated fixture at the same
    # path must NOT silently reuse stale simhashes.
    # r16 (advice #4): key on a SHORT DIGEST of the manifest contents —
    # embedding the raw token produced broken/over-length /tmp paths
    # for whitespace- or newline-bearing manifests. The mtime fallback
    # stays distinct from the digest namespace ("mt" prefix), so a
    # fixture that GAINS a _manifest can never collide with a stale
    # mtime-keyed entry (and vice versa).
    import hashlib
    mf = os.path.join(sf_dir, "_manifest")
    if os.path.exists(mf):
        token = "mf" + hashlib.sha1(
            open(mf, "rb").read()).hexdigest()[:12]
    else:
        token = "mt%d" % int(os.path.getmtime(docs))
    cache = "/tmp/d4b_sig_%s_%s.npz" % (
        sf_dir.strip("/").replace("/", "_"), token)
    if os.path.exists(cache):
        z = np.load(cache)
        doc, sh = z["doc"], z["sh"]
        print(f"  [d4bbig] sig cache hit: {len(doc)} docs", flush=True)
    else:
        dids, hs = [], []
        for c in range(chunks):
            con.execute("CREATE OR REPLACE VIEW documents AS "
                        f"SELECT * FROM '{pat}' WHERE doc_id % {chunks} = {c}")
            t = con.execute(prefix + "sel AS (SELECT doc_id, h FROM th) "
                            "SELECT doc_id, h FROM sel").fetch_arrow_table()
            dids.append(t["doc_id"].to_numpy().astype(np.int64))
            hs.append(t["h"].to_numpy().astype(np.int64))
            print(f"  [d4bbig] th chunk {c + 1}/{chunks}: "
                  f"{len(dids[-1])} rows", flush=True)
        did = np.concatenate(dids)
        h = np.concatenate(hs)
        del dids, hs
        o = np.argsort(did, kind="stable")
        did, h = did[o], h[o]
        starts = np.empty(len(did), dtype=bool)
        starts[0] = True
        starts[1:] = did[1:] != did[:-1]
        idx = np.flatnonzero(starts)
        doc = did[idx]
        sh = np.zeros(len(doc), dtype=np.int64)
        for j in range(32):
            bit = ((h >> j) & 1) * 2 - 1
            sj = np.add.reduceat(bit, idx)
            sh |= (sj > 0).astype(np.int64) << j
        del did, h
        np.savez_compressed(cache, doc=doc, sh=sh)
    vals, inv, cnts = np.unique(sh, return_inverse=True, return_counts=True)
    print(f"  [d4bbig] docs={len(doc)} distinct simhash values={len(vals)}",
          flush=True)
    # doc lists per value, CSR over vals
    o3 = np.lexsort((doc, inv))
    dsort = doc[o3]
    vstart = np.searchsorted(inv[o3], np.arange(len(vals)))
    # candidate value pairs from the 4 band buckets (memory-bounded:
    # per-bucket triangles emitted through the popcount gate per block)
    def group_pairs(keys):
        """survivor (u_idx, v_idx) pairs within equal-key groups."""
        out = []
        o2 = np.argsort(keys, kind="stable")
        ks = keys[o2]
        gstart = np.flatnonzero(np.r_[True, ks[1:] != ks[:-1]])
        gend = np.r_[gstart[1:], len(ks)]
        for s0, e0 in zip(gstart, gend):
            g = np.sort(o2[s0:e0])
            if len(g) < 2:
                continue
            # row blocks keep the (row × rest) candidate matrix small
            blk = max(1, 20_000_000 // max(1, len(g)))
            for r0 in range(0, len(g) - 1, blk):
                rows = g[r0:r0 + blk]
                rest = g[r0 + 1:]
                x = vals[rows][:, None] ^ vals[rest][None, :]
                okm = (_popcount32(x) <= 3) & (rows[:, None] < rest[None, :])
                ri, ci = np.nonzero(okm)
                if len(ri):
                    out.append(np.stack([rows[ri], rest[ci]], axis=1))
        return out

    cand = []
    for b in range(4):
        bv = (vals >> (8 * b)) & 255
        if not refine:
            cand += group_pairs(bv)
        else:
            # recursive pigeonhole (the x1000 path): a Hamming<=3 pair
            # agreeing on band b has <=3 differing bits among the OTHER
            # 24, so it also agrees on >=1 of that remainder's four
            # 6-bit sub-bands — grouping by (byte, sub-band value)
            # shrinks Σ C(pop, 2) by ~the sub-bucket fanout (exact,
            # duplicates removed by the np.unique below)
            rem = _d4b_rem24(vals, b)
            for j in range(4):
                cand += group_pairs(bv * 64 + ((rem >> (6 * j)) & 63))
        print(f"  [d4bbig] band {b + 1}/4 candidates "
              f"{sum(len(c) for c in cand)}", flush=True)
    if cand:
        vp = np.unique(np.concatenate(cand), axis=0)
    else:
        vp = np.empty((0, 2), dtype=np.int64)
    del cand
    u, v = vp[:, 0], vp[:, 1]
    xor = vals[u] ^ vals[v]
    vham = _popcount32(xor)
    vnsb = np.zeros(len(u), dtype=np.int64)
    for b in range(4):
        vnsb += ((xor >> (8 * b)) & 255) == 0
    print(f"  [d4bbig] value pairs (hamming<=3): {len(u)}", flush=True)
    out_a, out_b, out_h, out_n = [], [], [], []
    # equal-value groups: batch by group size c — all groups of one
    # size expand through one triu_indices call
    for c in np.unique(cnts[cnts > 1]):
        gsel = np.flatnonzero(cnts == c)
        mat = dsort[vstart[gsel][:, None] + np.arange(c)[None, :]]
        iu, ju = np.triu_indices(int(c), k=1)
        a = mat[:, iu].ravel()
        bb = mat[:, ju].ravel()
        out_a.append(np.minimum(a, bb))
        out_b.append(np.maximum(a, bb))
        out_h.append(np.zeros(a.size, dtype=np.int64))
        out_n.append(np.full(a.size, 4, dtype=np.int64))
    # cross-value pairs: flat enumeration of docs(u) × docs(v)
    if len(u):
        na, nb = cnts[u], cnts[v]
        tot = na * nb
        csum = np.cumsum(tot)
        rid = np.repeat(np.arange(len(u)), tot)
        k = np.arange(int(csum[-1])) - np.repeat(csum - tot, tot)
        a = dsort[vstart[u][rid] + k // nb[rid]]
        bb = dsort[vstart[v][rid] + k % nb[rid]]
        out_a.append(np.minimum(a, bb))
        out_b.append(np.maximum(a, bb))
        out_h.append(vham[rid])
        out_n.append(vnsb[rid])
    a = np.concatenate(out_a) if out_a else np.empty(0, dtype=np.int64)
    bpair = np.concatenate(out_b) if out_b else np.empty(0, dtype=np.int64)
    hham = np.concatenate(out_h) if out_h else np.empty(0, dtype=np.int64)
    nsb = np.concatenate(out_n) if out_n else np.empty(0, dtype=np.int64)
    o4 = np.lexsort((nsb, hham, bpair, a))
    a, bpair, hham, nsb = a[o4], bpair[o4], hham[o4], nsb[o4]
    files = glob.glob(f"{out_dir}/d4b_simhash_pairs/*.parquet")
    tab = pq.read_table(files, columns=["a_id", "b_id", "hamming",
                                        "n_shared_bands"])
    ga = tab["a_id"].to_numpy().astype(np.int64)
    gb = tab["b_id"].to_numpy().astype(np.int64)
    gh = tab["hamming"].to_numpy().astype(np.int64)
    gn = tab["n_shared_bands"].to_numpy().astype(np.int64)
    o5 = np.lexsort((gn, gh, gb, ga))
    ga, gb, gh, gn = ga[o5], gb[o5], gh[o5], gn[o5]
    if len(ga) != len(a):
        print(f"FAIL d4b_simhash_pairs: rows spark={len(ga)} hybrid={len(a)}")
        return 1
    for name, gcol, wcol in (("a_id", ga, a), ("b_id", gb, bpair),
                             ("hamming", gh, hham),
                             ("n_shared_bands", gn, nsb)):
        if not np.array_equal(gcol, wcol):
            i_ = int(np.flatnonzero(gcol != wcol)[0])
            print(f"FAIL d4b_simhash_pairs: col {name} differs at sorted "
                  f"row {i_}: spark={gcol[i_]} hybrid={wcol[i_]}")
            return 1
    print(f"PASS d4b_simhash_pairs ({len(a)} rows, hybrid)")
    return 0


if __name__ == "__main__":
    sf_dir, out_dir, which = sys.argv[1], sys.argv[2], sys.argv[3]
    sys.exit({"d15": d15, "d15big": lambda a, b: d15(a, b, chunks=16),
              "e3": e3, "e6": e6, "j11": j11,
              "st14": st14, "e5": e5, "d31": d31,
              "d30big": lambda a, b: d30(a, b, chunks=16),
              "d28big": lambda a, b: d28(a, b, chunks=16),
              "d4bbig": lambda a, b: d4b(a, b, chunks=16),
              "d4bfast": lambda a, b: d4b(a, b, chunks=16, refine=True),
              }[which](sf_dir, out_dir))
