"""Seeded input generator for the perfbench workloads.

    python3 perfbench/gen.py --seed 7 --out perfbench/.work/inputs/seed7

builds every workload's inputs for one seed and writes the planted ground
truth beside them (``<workload>/truth.json``).  The same seed gives
byte-identical inputs.  Each workload directory is built in a scratch
directory and renamed into place only after its geometry assertions pass,
so a half-written cache is never read; an existing directory is reused.
"""
import argparse
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---- sizes (the benchmark's contract; see perfbench/README.md) ----------
REQUESTS = 16                 # clean_interactive requests after the first
REQ_ROWS = 1_500
CORPUS_GROUPS = 400           # llm_corpus near-dup groups of GROUP_SIZE
GROUP_SIZE = 3
CORPUS_SINGLES = 800
CORPUS_EXACT = 80             # exact (normalised) copies of singletons
CORPUS_SPAM = 60              # repetitive docs the quality filter drops
DOC_WORDS = (30, 60)
VECTORS = 4_000
VEC_DIM = 64
VEC_CENTERS = 32
QUERIES = 16
EVENTS = 60_000
EVENT_FILES = 2
EVENT_USERS = 1_000
EVENT_DUP_FRAC = 0.01
SESSION_GAP_S = 1800

# sf0.1's synthetic document vocabulary (plus a few more words): what the
# frozen BPE merges were learned on
WORDS = ("a the spark line column order small sort fast value scan hash "
         "slow group batch agg filter query big key window row part table "
         "stream merge data join customer vector time cell index graph "
         "node edge plan cost shard").split()
TYPOS = {"management": "managment", "department": "deparment",
         "development": "devlopment", "business": "busness",
         "finance": "finace", "government": "goverment"}
DEPTS = sorted(TYPOS)
COMMENT_WORDS = ("please ship the order to their office and we will receive "
                 "it on time for the occasion").split()
COMMENT_TYPOS = {"the": "teh", "and": "adn", "their": "thier",
                 "receive": "recieve", "occasion": "occassion"}
FLAGS = ["A", "N", "R"]
MODES = ["AIR", "MAIL", "RAIL", "SHIP", "TRUCK"]


# ---- clean_interactive --------------------------------------------------

def dirty_table(rng, n, null_rate, dup_frac, id_base=0):
    """Rows of a lineitem-shaped dirty table as lists of CSV cells (None =
    empty cell), plus the planted truth.  Every distinct row carries a
    unique ``row_id``, so only the planted copies are duplicates."""
    qty = rng.integers(1, 51, n)
    price = np.round(rng.uniform(900.0, 105_000.0, n), 2)
    outlier = rng.random(n) < 0.005
    price = np.where(outlier, np.round(price * 1000.0, 2), price)
    disc = np.round(rng.integers(0, 11, n) / 100.0, 2)
    day = rng.integers(0, 2500, n)
    base = np.datetime64("1992-01-01")
    fmt = rng.integers(0, 3, n)
    dept = rng.integers(0, len(DEPTS), n)
    dept_typo = rng.random(n) < 0.2
    flag = rng.integers(0, len(FLAGS), n)
    mode = rng.integers(0, len(MODES), n)
    rows = []
    for i in range(n):
        d = str(base + np.timedelta64(int(day[i]), "D"))
        y, m, dd = d[:4], d[5:7], d[8:10]
        date = (d if fmt[i] == 0 else f"{y}/{m}/{dd}" if fmt[i] == 1
                else f"{m}/{dd}/{y}")
        nw = 3 + (i % 5)
        words = [COMMENT_WORDS[(i * 7 + k * 3) % len(COMMENT_WORDS)]
                 for k in range(nw)]
        words = [COMMENT_TYPOS.get(w, w) if (i + k) % 4 == 0 else w
                 for k, w in enumerate(words)]
        dep = DEPTS[dept[i]]
        rows.append([
            str(id_base + i), str(10_000 + (i * 37) % 90_000),
            f"{qty[i]}.0" if i % 3 == 0 else str(qty[i]),
            f"{price[i]:.2f}", f"{disc[i]:.2f}", FLAGS[flag[i]],
            MODES[mode[i]], TYPOS[dep] if dept_typo[i] else dep, date,
            ("  " if i % 9 == 0 else "") + " ".join(words)])
    header = ["row_id", "orderkey", "quantity", "extendedprice", "discount",
              "returnflag", "shipmode", "dept", "shipdate", "comment"]
    # planted nulls: never in the id columns
    nullable = {"quantity": 2, "extendedprice": 3, "discount": 4,
                "returnflag": 5, "dept": 7, "shipdate": 8, "comment": 9}
    for name, j in nullable.items():
        k = int(n * null_rate * (1.5 if j % 2 else 1.0))
        for i in rng.choice(n, size=k, replace=False):
            rows[i][j] = None
    ndup = int(n * dup_frac)
    src = rng.choice(n, size=ndup, replace=False)
    copies = [list(rows[i]) for i in src]
    pos = np.sort(rng.choice(n + ndup, size=ndup, replace=False))
    out, ci, ri = [], 0, 0
    for p in range(n + ndup):
        if ci < ndup and pos[ci] == p:
            out.append(copies[ci])
            ci += 1
        else:
            out.append(rows[ri])
            ri += 1
    nulls = {h: sum(1 for r in out if r[j] is None)
             for h, j in zip(header, range(len(header)))}
    truth = {"rows": n + ndup, "distinct_rows": n, "dup_rows": ndup,
             "nulls": nulls, "outliers": int(outlier.sum())}
    # geometry: the copies are the only duplicates, nulls where planted
    assert len({tuple(r) for r in out}) == n, "duplicate geometry"
    assert all(nulls[h] == 0 for h in ("row_id", "orderkey", "shipmode"))
    return header, out, truth


def write_csv(path, header, rows):
    with open(path, "w") as f:
        f.write(",".join(header) + "\n")
        f.write("\n".join(",".join("" if c is None else c for c in r)
                          for r in rows))
        f.write("\n")


# The operators a request may draw besides type conversion (always on, as
# outliers and normalization need numeric columns), each with one fixed
# setting the reference web app offers; none drops rows. One setting per
# operator keeps a request's cost a function of which operators it runs.
REQUEST_OPS = {
    "text_cleaning": {"enabled": True, "columns": ["comment", "dept"],
                      "operations": ["lowercase", "remove_extra_spaces"]},
    "datetime_parsing": {"enabled": True, "columns": ["shipdate"]},
    "missing_values": {"enabled": True, "strategy": "fill_median"},
    "duplicates": {"enabled": True},
    "outliers": {"enabled": True, "method": "iqr", "action": "cap",
                 "threshold": 3.0, "columns": ["extendedprice"]},
    "spelling_correction": {"enabled": True, "method": "common_typos",
                            "columns": ["comment", "dept"]},
    "encoding": {"enabled": True, "method": "label",
                 "columns": ["returnflag", "shipmode"]},
    "normalization": {"enabled": True, "method": "minmax",
                      "columns": ["quantity", "discount"]},
}


def request_ops(rng, n):
    """Operator subsets for ``n`` requests, in pairs that split the eight
    optional operators between them (a seeded split): any whole number of
    pairs runs every operator equally often, so a run's mix of cheap and
    costly operators does not depend on the seed."""
    names = sorted(REQUEST_OPS)
    out = []
    while len(out) < n:
        perm = [names[i] for i in rng.permutation(len(names))]
        half = len(names) // 2
        out += [sorted(perm[:half]), sorted(perm[half:])]
    return out[:n]


def gen_clean_interactive(rng, d):
    # request 0, the cold first request, runs all nine operators
    subsets = [sorted(REQUEST_OPS)] + request_ops(rng, REQUESTS)
    reqs = []
    for r, chosen in enumerate(subsets):
        header, rows, t = dirty_table(
            rng, REQ_ROWS, float(rng.uniform(0.005, 0.05)),
            float(rng.uniform(0.005, 0.05)), id_base=r * 100_000)
        cfg = {"data_type_conversion": {"enabled": True}}
        cfg.update({op: REQUEST_OPS[op] for op in chosen})
        name = f"req{r:03d}.csv"
        write_csv(os.path.join(d, name), header, rows)
        t.update(file=name, config_json=json.dumps(cfg), enabled=len(cfg),
                 expected_rows=t["distinct_rows"] if "duplicates" in cfg
                 else t["rows"])
        reqs.append(t)
    for a, b in zip(subsets[1::2], subsets[2::2]):
        assert sorted(a + b) == sorted(REQUEST_OPS), (a, b)
    return {"requests": reqs, "round": 2}


# ---- llm_corpus ---------------------------------------------------------

def word_trigrams(t):
    w = t.lower().split()
    return {tuple(w[i:i + 3]) for i in range(len(w) - 2)}


def jaccard(a, b):
    return len(a & b) / max(1, len(a | b))


# The quality filter's thresholds (Workloads.scala passes the same ones)
# and a replica of its Gopher repetition rule, so every planted doc's fate
# is known before the engine sees it.
QUALITY = (0.60, 0.15, 0.15, 0.15)


def keep(text):
    words = text.strip().lower().split()
    if not words:
        return True
    total = sum(len(w) for w in words)

    def stats(n):
        counts, chars = {}, {}
        for i in range(len(words) - n + 1):
            g = tuple(words[i:i + n])
            counts[g] = counts.get(g, 0) + 1
            chars[g] = sum(len(w) for w in g)
        covers = [(c * chars[g], c) for g, c in counts.items()]
        return (max((v for v, _ in covers), default=0),
                sum(v for v, c in covers if c > 1))
    dup_word = 1.0 - len(set(words)) / len(words)
    top2, top3, dup5 = stats(2)[0], stats(3)[0], stats(5)[1]
    return (dup_word <= QUALITY[0] and top2 / total <= QUALITY[1]
            and top3 / total <= QUALITY[2] and dup5 / total <= QUALITY[3])


def gen_llm_corpus(rng, d):
    texts, ids = [], []
    groups, singles = [], []
    nid = 0

    def doc():
        # rejection-sampled: the quality filter must keep every normal doc
        while True:
            w = [WORDS[j] for j in rng.integers(
                0, len(WORDS), int(rng.integers(*DOC_WORDS)))]
            if keep(" ".join(w)):
                return w

    for _ in range(CORPUS_GROUPS):
        while True:
            w = doc()
            # replica k drops one word at a replica-dependent position
            group = [" ".join(w if k == 0 else w[:k * 7] + w[k * 7 + 1:])
                     for k in range(GROUP_SIZE)]
            if all(keep(t) for t in group):
                break
        groups.append(list(range(nid, nid + GROUP_SIZE)))
        ids.extend(groups[-1])
        texts.extend(group)
        nid += GROUP_SIZE
    for _ in range(CORPUS_SINGLES):
        ids.append(nid)
        texts.append(" ".join(doc()))
        singles.append(nid)
        nid += 1
    exact_src = rng.choice(singles, size=CORPUS_EXACT, replace=False)
    for s in exact_src:
        # same normalised text: case and whitespace differ only
        ids.append(nid)
        texts.append(texts[s].capitalize().replace(" ", "  ", 1) + " ")
        nid += 1
    for _ in range(CORPUS_SPAM):
        w = WORDS[int(rng.integers(0, len(WORDS)))]
        ids.append(nid)
        texts.append(" ".join([w, "spam", "offer"] * 20))
        nid += 1
    # geometry (the make_sf1.py perturbed-mode invariants): group members
    # pair well above the 0.5 threshold, other docs far below it; the
    # filter keeps every doc but the spam
    for g in groups[::37]:
        a, b, c = (word_trigrams(texts[i]) for i in g)
        assert min(jaccard(a, b), jaccard(a, c), jaccard(b, c)) > 0.65, g
    for i in range(0, len(singles) - 1, 53):
        a, b = singles[i], singles[i + 1]
        assert jaccard(word_trigrams(texts[a]), word_trigrams(texts[b])) < 0.2
    kept = [keep(t) for t in texts]
    assert sum(kept) == len(texts) - CORPUS_SPAM and not any(kept[-CORPUS_SPAM:])
    copies = texts[-CORPUS_SPAM - CORPUS_EXACT:-CORPUS_SPAM]
    assert all(" ".join(c.lower().split()) == texts[s]
               for c, s in zip(copies, exact_src))
    order = rng.permutation(len(ids))
    tab = pa.table({"doc_id": pa.array([ids[i] for i in order], pa.int64()),
                    "text": pa.array([texts[i] for i in order], pa.string())})
    pq.write_table(tab, os.path.join(d, "docs.parquet"), row_group_size=4096)

    centers = rng.normal(0, 1, (VEC_CENTERS, VEC_DIM))
    lab = rng.integers(0, VEC_CENTERS, VECTORS)
    vecs = (centers[lab] + rng.normal(0, 0.35, (VECTORS, VEC_DIM))).astype(
        np.float32)
    emb = pa.table({
        "vec_id": pa.array(np.arange(VECTORS, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32()))})
    pq.write_table(emb, os.path.join(d, "emb.parquet"), row_group_size=4096)
    queries = sorted(rng.choice(VECTORS, size=QUERIES, replace=False).tolist())
    return {"docs": len(ids), "groups": groups, "spam": CORPUS_SPAM,
            "exact_dups": CORPUS_EXACT,
            "after_quality": len(ids) - CORPUS_SPAM,
            "after_exact": len(ids) - CORPUS_SPAM - CORPUS_EXACT,
            "vectors": VECTORS, "queries": queries}


# ---- events_stream ------------------------------------------------------

def gen_events_stream(rng, d):
    per_user = EVENTS // EVENT_USERS
    t0 = 1_704_067_200_000_000  # 2024-01-01 in µs
    us, ts, sessions = [], [], 0
    for u in range(EVENT_USERS):
        t = t0 + int(rng.integers(0, 3600)) * 1_000_000
        n = per_user
        k = 0
        while k < n:
            sessions += 1
            s_len = int(rng.integers(1, 40))
            for _ in range(min(s_len, n - k)):
                us.append(u)
                ts.append(t)
                t += int(rng.integers(1, 600)) * 1_000_000
                k += 1
            # a break longer than the gap closes the session
            t += (SESSION_GAP_S + int(rng.integers(60, 20_000))) * 1_000_000
    us = np.array(us, np.int64)
    ts = np.array(ts, np.int64)
    order = np.argsort(ts, kind="stable")
    us, ts = us[order], ts[order]
    n = len(ts)
    ev_id = np.arange(n, dtype=np.int64)
    etype = np.array(["view", "click", "cart", "buy", "error"])[
        rng.integers(0, 5, n)]
    value = np.round(rng.uniform(0, 500, n), 2)
    # chronological files; a planted duplicate lands in its original's file
    bounds = np.linspace(0, n, EVENT_FILES + 1).astype(int)
    d = os.path.join(d, "events")
    os.makedirs(d)
    ndup = 0
    for f in range(EVENT_FILES):
        lo, hi = bounds[f], bounds[f + 1]
        idx = np.arange(lo, hi)
        dup = rng.choice(idx, size=int(len(idx) * EVENT_DUP_FRAC),
                         replace=False)
        ndup += len(dup)
        sel = np.concatenate([idx, np.sort(dup)])
        write_events(os.path.join(d, f"events_{f:03d}.parquet"),
                     ev_id[sel], ts[sel], us[sel], etype[sel], value[sel])
    # two far-future sentinel batches flush every pending session timeout
    for k in (1, 2):
        far = int(ts.max()) + SESSION_GAP_S * 10 * k * 1_000_000
        write_events(os.path.join(d, f"events_{EVENT_FILES + k - 1:03d}.parquet"),
                     np.array([10 ** 9 + k]), np.array([far]),
                     np.array([-k]), np.array(["view"]), np.array([0.0]))
    # the file source takes files in modification-time order (millisecond
    # resolution), so the order is made explicit: 10 s apart, by name
    for i, f in enumerate(sorted(os.listdir(d))):
        t = (1_704_067_200 + 10 * i) * 1_000_000_000
        os.utime(os.path.join(d, f), ns=(t, t))
    # geometry: sessions recomputed from the written order match the plan
    gaps = np.diff(ts[np.lexsort((ts, us))])
    same = np.diff(us[np.lexsort((ts, us))]) == 0
    assert EVENT_USERS + int(np.sum(same & (gaps > SESSION_GAP_S * 1e6))) \
        == sessions
    return {"events": n + ndup, "distinct_events": n, "dup_events": ndup,
            "sessions": sessions, "files": EVENT_FILES + 2,
            "gap_s": SESSION_GAP_S}


def write_events(path, ev, ts, us, et, val):
    tab = pa.table({
        "event_id": pa.array(ev, pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(us, pa.int64()),
        "event_type": pa.array(et, pa.string()),
        "value": pa.array(val, pa.float64())})
    pq.write_table(tab, path)


GENERATORS = {"clean_interactive": gen_clean_interactive,
              "llm_corpus": gen_llm_corpus,
              "events_stream": gen_events_stream}


def ensure(out, seed, workload):
    """Build ``out/<workload>`` for ``seed`` unless it already exists."""
    final = os.path.join(out, workload)
    if os.path.isfile(os.path.join(final, "truth.json")):
        return final
    tmp = final + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    # one stream per (seed, workload): adding a workload never shifts
    # another workload's inputs
    rng = np.random.default_rng([seed, sorted(GENERATORS).index(workload)])
    truth = GENERATORS[workload](rng, tmp)
    truth["seed"] = seed
    with open(os.path.join(tmp, "truth.json"), "w") as f:
        json.dump(truth, f)
    shutil.rmtree(final, ignore_errors=True)
    os.rename(tmp, final)
    return final


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--workload", choices=sorted(GENERATORS))
    a = ap.parse_args()
    for w in [a.workload] if a.workload else sorted(GENERATORS):
        print(ensure(a.out, a.seed, w))


if __name__ == "__main__":
    main()
