"""Phase-level profile of the token-column encode kernel, 1-way vs 8-way.

Runs the same stripe encode in 1 process and in 8 concurrent processes
(each pinned to its own data) and prints per-phase walls, to attribute
the 2->8 per-core-rate drop (ROADMAP #5b) to specific memory passes.
"""
import os
import sys
import time
from multiprocessing import Process, Queue

sys.path.insert(0, "/root/repo")

import numpy as np

N_ROWS = 32768
SEED = 9


def make_stripe(seed):
    """Synthetic token shape matching sources/tokens.synthetic_sequences:
    avg ~1056 tok/doc, every 13th doc constant (runs), every 97th token
    an outlier."""
    rng = np.random.default_rng(seed)
    lens = rng.integers(64, 2049, N_ROWS)
    total = int(lens.sum())
    vals = rng.integers(0, 50257, total, dtype=np.int32)
    bounds = np.zeros(N_ROWS + 1, dtype=np.int64)
    np.cumsum(lens, out=bounds[1:])
    for d in range(0, N_ROWS, 13):
        vals[bounds[d]:bounds[d + 1]] = d % 50257
    out = np.flatnonzero(rng.integers(0, 97, total) == 0)
    vals[out] = rng.integers(1 << 20, 1 << 24, len(out)).astype(np.int32)
    return vals, bounds


def profile_once(vals, bounds):
    from datafusion_orc_spark.codecs.runfor import (
        MIN_RUN, _coverage_mask, runfor_encode, sorted_pos_encode,
    )
    from datafusion_orc_spark.codecs.selector import choose_int_codec
    from datafusion_orc_spark.format.stripe import _rowidx_stream
    import zlib

    t = {}
    n = len(vals)

    t0 = time.perf_counter()
    ridx = _rowidx_stream(vals, row_bounds=bounds)
    t["rowidx(min/max reduceat)"] = time.perf_counter() - t0
    vmin, vmax = ridx[1], ridx[2]

    t0 = time.perf_counter()
    codec, stats = choose_int_codec(vals, vmin=vmin, vmax=vmax)
    t["selector(sampled)"] = time.perf_counter() - t0

    t0 = time.perf_counter()
    streams = runfor_encode(vals, vmin=vmin, vmax=vmax)
    t["runfor_encode(total)"] = time.perf_counter() - t0

    # runfor internals, re-run piecewise
    v = vals
    m = MIN_RUN - 1
    t0 = time.perf_counter()
    cand = v[m:] == v[:-m]
    z = np.flatnonzero(cand)
    t["  rf.cand+flatnonzero"] = time.perf_counter() - t0

    brk = np.flatnonzero(np.diff(z) > 1)
    blk_s = np.concatenate(([0], brk + 1))
    blk_e = np.append(brk, len(z) - 1)
    keep = (blk_e - blk_s) >= 2
    blk_s, blk_e = blk_s[keep], blk_e[keep]
    r_pos = z[blk_s].astype(np.int64)
    r_len = (z[blk_e] + m + 1 - r_pos).astype(np.int64)
    t0 = time.perf_counter()
    offs = np.zeros(len(r_pos), dtype=np.int64)
    np.cumsum(r_len[:-1], out=offs[1:])
    gather = np.repeat(r_pos - offs, r_len) + np.arange(int(r_len.sum()))
    eq = v[gather] == np.repeat(v[r_pos], r_len)
    ok = np.minimum.reduceat(eq, offs) if len(offs) else np.empty(0, bool)
    r_pos2, r_len2 = r_pos[ok], r_len[ok]
    t["  rf.run-verify gather"] = time.perf_counter() - t0

    t0 = time.perf_counter()
    if len(r_pos2) <= 4096:
        segs = []
        pos = 0
        for p, ln in zip(r_pos2.tolist(), r_len2.tolist()):
            if p > pos:
                segs.append(v[pos:p])
            pos = p + ln
        if pos < n:
            segs.append(v[pos:])
        lit = np.concatenate(segs) if segs else v[:0]
    else:
        lit = v[~_coverage_mask(n, r_pos2, r_len2)]
    t["  rf.literal-extract"] = time.perf_counter() - t0

    from datafusion_orc_spark.codecs.bitpack import bit_pack, bit_widths, closest_fixed_width
    from datafusion_orc_spark.codecs.runfor import choose_pfor_width

    reduced = lit.view(np.uint32)
    wm = closest_fixed_width(max(1, (int(vmax) - 0).bit_length()))
    t0 = time.perf_counter()
    sample = reduced[::16] if len(lit) > 65536 else reduced
    widths = bit_widths(sample)
    w, _ = choose_pfor_width(widths, wm)
    t["  rf.width-sample"] = time.perf_counter() - t0

    t0 = time.perf_counter()
    exc_mask = reduced >= np.uint32(1 << w)
    n_exc = int(exc_mask.sum())
    t["  rf.exc-mask+sum"] = time.perf_counter() - t0

    t0 = time.perf_counter()
    mask = np.uint32((1 << w) - 1)
    packed = bit_pack(reduced & mask if n_exc else reduced, w)
    t["  rf.and+bitpack"] = time.perf_counter() - t0

    if n_exc:
        t0 = time.perf_counter()
        ep = sorted_pos_encode(np.flatnonzero(exc_mask).astype(np.int64))
        eh = bit_pack((reduced[exc_mask] >> np.uint32(w)).astype(np.uint64), wm - w)
        t["  rf.exceptions"] = time.perf_counter() - t0

    t0 = time.perf_counter()
    crc = zlib.crc32(np.ascontiguousarray(vals))
    t["crc32"] = time.perf_counter() - t0

    from datafusion_orc_spark.codecs.rlev2 import rle_v2_encode
    lens = np.diff(bounds)
    t0 = time.perf_counter()
    rle_v2_encode(lens, signed=False)
    t["lengths rle_v2"] = time.perf_counter() - t0
    return t, n


def worker(seed, q, reps):
    vals, bounds = make_stripe(seed)
    # warm
    profile_once(vals, bounds)
    acc = {}
    for _ in range(reps):
        t, n = profile_once(vals, bounds)
        for k, v in t.items():
            acc[k] = min(acc.get(k, 9e9), v)
    q.put((acc, n))


def run(nproc, reps=3):
    q = Queue()
    ps = [Process(target=worker, args=(SEED + i, q, reps)) for i in range(nproc)]
    t0 = time.perf_counter()
    for p in ps:
        p.start()
    results = [q.get() for _ in ps]
    for p in ps:
        p.join()
    wall = time.perf_counter() - t0
    # average phase walls across workers
    keys = results[0][0].keys()
    avg = {k: sum(r[0][k] for r in results) / nproc for k in keys}
    n = results[0][1]
    return avg, n, wall


if __name__ == "__main__":
    os.environ.setdefault("OMP_NUM_THREADS", "1")
    for nproc in (1, 8):
        avg, n, wall = run(nproc)
        tot = sum(avg.values())
        print(f"\n== {nproc}-way ({n} values/stripe, wall {wall:.2f}s) ==")
        for k, v in sorted(avg.items(), key=lambda kv: -kv[1]):
            print(f"  {k:28s} {v*1000:8.2f} ms  {100*v/tot:5.1f}%")
        print(f"  {'TOTAL':28s} {tot*1000:8.2f} ms   -> {n/tot/1e6:.0f} M tok/s/proc")
