"""Seeded input generator for the benchmark workloads.

Every input is a pure function of (workload, seed): the same seed gives
byte-identical files. Sizes are fixed per workload (see SIZES) so that a
seed changes the data, never the amount of work.

    python3 perfbench/gen.py <workload> <seed> <out_dir>
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {
    "medallion_dag": {"problemlog": 300_000, "users": 2_000, "events": 100_000,
                      # the micro-batch loop's raw zone and slice pool
                      "users_base": 2_000, "browsing_base": 10_000, "slices": 24,
                      "slice_new": 160, "slice_upd": 40,
                      "slice_users_new": 10, "slice_users_upd": 20},
    "curation_corpus": {"distinct": 3_000, "exact_groups": 400, "near_clusters": 300,
                        "chains": 80},
}

EVENT_TYPES = ["view", "click", "search", "scroll", "submit", "hint"]
LANG_WORDS = {
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "von"],
    "en": ["the", "a", "and", "is", "not", "of", "to", "in", "it", "with"],
    "fr": ["le", "la", "les", "et", "est", "pas", "un", "avec", "sur", "de"],
}
T0_SEC = 1_719_792_000  # 2024-07-01 00:00:00 UTC
SLICE_SPAN_US = 1_000_000_000  # each incremental slice owns a 1000 s update window


def _rng(seed, stream):
    return np.random.default_rng([int(seed), stream])


def _write_parquet(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy", use_dictionary=True,
                   write_statistics=True)


def _write_csv(path, header, columns):
    cells = [_csv_column(c) for c in columns]
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        f.write(",".join(header) + "\n")
        f.writelines(",".join(row) + "\n" for row in zip(*cells))


def _csv_column(c):
    kinds = {type(v) for v in c}
    if kinds <= {int, str}:
        return list(map(str, c))
    if kinds == {bool}:
        return ["true" if v else "false" for v in c]
    return [_csv_cell(v) for v in c]


def _csv_cell(v):
    if v is None:
        return ""
    if isinstance(v, (bool, np.bool_)):
        return "true" if v else "false"
    if isinstance(v, (float, np.floating)):
        return repr(float(v))
    return str(v)


# ---------------------------------------------------------------- medallion_dag

def exercise_names():
    return [f"exercise_{i:02d}" for i in range(84)]


def gen_medallion_dag(seed, out):
    s = SIZES["medallion_dag"]
    r = _rng(seed, 1)
    names = exercise_names()
    # 84-row exercise dim, 13 columns (Exercise_table shape)
    ex_cols = [
        names,
        [True] * 84,
        [names[i - 1] if i > 0 else None for i in range(84)],
        r.integers(0, 60, 84).tolist(),
        r.integers(-40, 40, 84).tolist(),
        [f"2012-{1 + i % 12:02d}-{1 + i % 28:02d}" for i in range(84)],
        np.round(r.uniform(5, 60, 84), 1).tolist(),
        [f"Exercise {i}" for i in range(84)],
        [f"ex{i}" for i in range(84)],
        [f"topic_{i % 9}" for i in range(84)],
        [f"area_{i % 4}" for i in range(84)],
        [bool(i % 5 == 0) for i in range(84)],
        [f"author_{i % 7}" for i in range(84)],
    ]
    _write_csv(f"{out}/exercise.csv",
               ["name", "live", "prerequisites", "h_position", "v_position", "creation_date",
                "seconds_per_fast_problem", "pretty_display_name", "short_display_name",
                "topic", "area", "summative", "author"], ex_cols)

    # ProblemLog, 17 columns
    n = s["problemlog"]
    r = _rng(seed, 2)
    user = r.integers(1, s["users"] + 1, n)
    ex = r.integers(0, 84, n)
    # unique per row: strictly increasing time_done with random steps
    time_done = 1_420_070_400_000_000 + np.cumsum(r.integers(1, 5_000_000, n))
    attempts = r.integers(1, 5, n)
    hints = r.integers(0, 3, n)
    t1 = r.integers(1, 300, n)
    t2 = r.integers(1, 300, n)
    _write_csv(f"{out}/problemlog.csv",
               ["user_id", "exercise", "problem_type", "problem_number", "topic_mode",
                "suggested", "review_mode", "time_done", "time_taken", "time_taken_attempts",
                "correct", "count_attempts", "hint_used", "count_hints",
                "hint_time_taken_list", "earned_proficiency", "points_earned"],
               [user.tolist(),
                [names[i] for i in ex],
                [f"type_{i % 3}" for i in ex],
                r.integers(1, 21, n).tolist(),
                (r.random(n) < 0.3).tolist(),
                (r.random(n) < 0.5).tolist(),
                (r.random(n) < 0.1).tolist(),
                time_done.tolist(),
                t1.tolist(),
                [f"{a}&{b}" if k > 1 else f"{a}" for a, b, k in zip(t1, t2, attempts)],
                (r.random(n) < 0.7).tolist(),
                attempts.tolist(),
                (hints > 0).tolist(),
                hints.tolist(),
                [None if h == 0 else "&".join(str(3 + h * j) for j in range(h)) for h in hints],
                (r.random(n) < 0.05).tolist(),
                r.integers(0, 900, n).tolist()])

    gen_users(_rng(seed, 3), s["users"], f"{out}/users.parquet")
    gen_events(_rng(seed, 4), s["events"], s["users"], f"{out}/events.parquet")
    return {"problemlog_rows": n, "users": s["users"], "events": s["events"],
            **gen_micro_batches(seed, out)}


def gen_users(r, n, path):
    created = T0_SEC - 86400 * 400 + np.sort(r.integers(0, 86400 * 300, n))
    updated = created + r.integers(0, 86400 * 100, n)
    t = pa.table({
        "user_id": pa.array(np.arange(1, n + 1), pa.int64()),
        "name": [f"user {i}" for i in range(1, n + 1)],
        "email": [None if i % 50 == 0 else f"u{i}@example.jp" for i in range(1, n + 1)],
        "gender": [["f", "m", "x"][i] for i in r.integers(0, 3, n)],
        "birth_year": pa.array(r.integers(1960, 2012, n), pa.int32()),
        "level": [f"N{i}" for i in r.integers(1, 6, n)],
        "created_at": pa.array(created * 1_000_000, pa.timestamp("us", tz="UTC")),
        "updated_at": pa.array(updated * 1_000_000, pa.timestamp("us", tz="UTC")),
    })
    _write_parquet(t, path)


def gen_events(r, n, n_users, path):
    """Browsing history in the shape graft.Tables.events reads: per-user
    sessions of events with gaps both under and over the 30-minute rule,
    plus re-sent events that the E2 dedup must drop."""
    user = np.sort(r.integers(1, n_users + 1, n))
    gap = np.where(r.random(n) < 0.15, r.integers(1801, 20000, n), r.integers(1, 1500, n))
    start = T0_SEC - 86400 * 30 + r.integers(0, 86400 * 20, n_users + 1)
    ts = np.empty(n, dtype=np.int64)
    prev_user = -1
    cur = 0
    for i in range(n):
        u = int(user[i])
        cur = int(start[u]) if u != prev_user else cur + int(gap[i])
        ts[i] = cur
        prev_user = u
    etype = r.integers(0, len(EVENT_TYPES), n)
    topic = r.integers(0, 400, n)
    props = [f'{{"page": "lesson {t}", "kanji": "k{t % 97}"}} study text {t * 7 % 1000}'
             for t in topic]
    etypes = [EVENT_TYPES[i] for i in etype]
    # ~5 % re-sent events: same (user, type, content) as the previous row
    resend = r.random(n) < 0.05
    for i in range(1, n):
        if resend[i] and user[i] == user[i - 1]:
            etypes[i] = etypes[i - 1]
            props[i] = props[i - 1]
    perm = r.permutation(n)  # event ids are not in time order
    t = pa.table({
        "event_id": pa.array(perm + 1, pa.int64()),
        "ts": pa.array(ts * 1_000_000, pa.timestamp("us", tz="UTC")),
        "user_id": pa.array(user, pa.int64()),
        "event_type": etypes,
        "value": pa.array(r.integers(1, 6, n).astype(np.float64)),
        "props": props,
    })
    _write_parquet(t, path)


# ------------------------------------------------- medallion_dag micro-batches

INC_T0_US = T0_SEC * 1_000_000


def gen_micro_batches(seed, out):
    """Raw-zone snapshot (all rows older than the first watermark) and a
    pool of slices; slice b holds new and updated rows whose update
    stamps lie in slice b's own window, after every earlier slice's."""
    s = SIZES["medallion_dag"]
    r = _rng(seed, 10)
    nb, nu = s["browsing_base"], s["users_base"]
    base_b = _browsing_rows(r, np.arange(1, nb + 1), nu,
                            INC_T0_US - r.integers(1, 10**9, nb))
    _write_parquet(base_b, f"{out}/raw_base/browsing/base.parquet")
    base_u = _user_rows(r, np.arange(1, nu + 1), INC_T0_US - r.integers(1, 10**9, nu))
    _write_parquet(base_u, f"{out}/raw_base/users/base.parquet")
    next_entry, next_user = nb + 1, nu + 1
    for b in range(s["slices"]):
        lo = INC_T0_US + b * SLICE_SPAN_US
        k_new, k_upd = s["slice_new"], s["slice_upd"]
        ids = np.concatenate([np.arange(next_entry, next_entry + k_new),
                              r.choice(next_entry - 1, k_upd, replace=False) + 1])
        next_entry += k_new
        upd = lo + 1 + np.sort(r.choice(SLICE_SPAN_US - 1, len(ids), replace=False))
        _write_parquet(_browsing_rows(r, ids, next_user - 1, upd),
                       f"{out}/slices/browsing/{b:05d}.parquet")
        ku_new, ku_upd = s["slice_users_new"], s["slice_users_upd"]
        uids = np.concatenate([np.arange(next_user, next_user + ku_new),
                               r.choice(next_user - 1, ku_upd, replace=False) + 1])
        next_user += ku_new
        uupd = lo + 1 + np.sort(r.choice(SLICE_SPAN_US - 1, len(uids), replace=False))
        _write_parquet(_user_rows(r, uids, uupd), f"{out}/slices/users/{b:05d}.parquet")
    return {"slices": s["slices"], "t0_us": INC_T0_US, "slice_span_us": SLICE_SPAN_US}


def _browsing_rows(r, ids, n_users, updated_us):
    n = len(ids)
    et = r.integers(0, len(EVENT_TYPES), n)
    topic = r.integers(0, 400, n)
    return pa.table({
        "entry_id": pa.array(ids, pa.int64()),
        "user_id": pa.array(r.integers(1, n_users + 1, n), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in et],
        "url": [f"http://site/lesson/{t}" for t in topic],
        "title": [f"lesson {t}" for t in topic],
        "visible_content": [f"study text {t} kanji k{t % 97}" for t in topic],
        "pageview_count": pa.array(r.integers(1, 6, n), pa.int64()),
        "ts_sec": pa.array(updated_us // 1_000_000 - r.integers(0, 600, n), pa.int64()),
        "updated_us": pa.array(updated_us, pa.int64()),
    })


def _user_rows(r, ids, updated_us):
    n = len(ids)
    return pa.table({
        "user_id": pa.array(ids, pa.int64()),
        "name": [f"user {i}" for i in ids],
        "email": [f"u{i}@example.jp" for i in ids],
        "level": [f"N{i}" for i in r.integers(1, 6, n)],
        "updated_us": pa.array(updated_us, pa.int64()),
    })


# -------------------------------------------------------------- curation_corpus

def _doc(r, lang, n_tok):
    fw = LANG_WORDS[lang]
    toks = []
    for _ in range(n_tok):
        if r.random() < 0.2:
            toks.append(fw[int(r.integers(0, len(fw)))])
        else:
            toks.append(f"w{int(r.integers(0, 50_000)):05d}")
    return toks


def _edit(r, toks, k):
    t = list(toks)
    for p in r.choice(len(t), k, replace=False):
        t[int(p)] = f"e{int(r.integers(0, 50_000)):05d}"
    return t


def gen_curation_corpus(seed, out):
    """Distinct documents, exact-copy groups, near-duplicate clusters of
    2-6 members (each one token off a 60-80 token base, word-3-shingle
    Jaccard about 0.92 to it) and short edit chains of 3-5 documents (each
    link one token off the previous). The ground truth lists every
    planted cluster. Chains stay short: nearDupClusters stops after
    maxIter rounds of label propagation."""
    s = SIZES["curation_corpus"]
    r = _rng(seed, 20)
    langs = list(LANG_WORDS)
    texts = []
    clusters = []
    for _ in range(s["distinct"]):
        texts.append(_doc(r, langs[int(r.integers(0, 3))], int(r.integers(30, 61))))
    for _ in range(s["exact_groups"]):
        src = texts[int(r.integers(0, len(texts)))]
        texts.extend([src] * int(r.integers(1, 4)))
    for _ in range(s["near_clusters"]):
        base = _doc(r, langs[int(r.integers(0, 3))], int(r.integers(60, 81)))
        members = [len(texts)]
        texts.append(base)
        for _ in range(int(r.integers(1, 6))):
            members.append(len(texts))
            texts.append(_edit(r, base, 1))
        clusters.append(members)
    for _ in range(s["chains"]):
        cur = _doc(r, langs[int(r.integers(0, 3))], int(r.integers(60, 81)))
        members = [len(texts)]
        texts.append(cur)
        for _ in range(int(r.integers(2, 5))):
            cur = _edit(r, cur, 1)
            members.append(len(texts))
            texts.append(cur)
        clusters.append(members)
    # a few low-quality documents the score filter must drop
    for _ in range(200):
        texts.append(["the", "a", "and", "is"][: int(r.integers(1, 5))])
    ids = r.permutation(len(texts)) + 1
    t = pa.table({"doc_id": pa.array(ids, pa.int64()),
                  "text": [" ".join(x) for x in texts]})
    order = np.argsort(ids)
    _write_parquet(t.take(pa.array(order)), f"{out}/corpus.parquet")
    truth = {"planted_clusters": [sorted(int(ids[i]) for i in m) for m in clusters]}
    with open(f"{out}/truth.json", "w") as f:
        json.dump(truth, f, sort_keys=True)
    return {"docs": len(texts), "planted_clusters": len(clusters)}


GENERATORS = {
    "medallion_dag": gen_medallion_dag,
    "curation_corpus": gen_curation_corpus,
}


def generate(workload, seed, out):
    os.makedirs(out, exist_ok=True)
    info = GENERATORS[workload](seed, out)
    with open(f"{out}/inputs.json", "w") as f:
        json.dump({"workload": workload, "seed": int(seed), **info}, f, sort_keys=True)
    return info


if __name__ == "__main__":
    w, sd, o = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    print(json.dumps(generate(w, sd, o)))
