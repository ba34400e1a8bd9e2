"""Output checks, computed apart from the program with DuckDB over the
generated inputs, the generator's ground truth, or properties the method
must have. Each checker takes a DuckDB connection on which the outputs
are views, and returns a list of failure messages (empty = correct).
`run` maps a run's lake onto those views and calls the checkers.
"""
import json
import os

import duckdb

# QC report specs, shared with the harness: null columns, (column, default
# literal), duplicate keys, (rule, column, predicate).
SPECS_FILE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "qc_specs.json")
with open(SPECS_FILE) as _f:
    SPECS = {k: (v["nulls"], [tuple(d) for d in v["defaults"]], v["dup"], [tuple(c) for c in v["clean"]])
             for k, v in json.load(_f).items() if not k.startswith("_")}

GAP_SECONDS = 1800
E3_SAMPLE_FRACTION = 0.1


def connect():
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET TimeZone = 'UTC'")
    return con


def one(con, sql):
    return con.execute(sql).fetchone()[0]


def same_rows(con, name, a, b):
    """Multiset equality of two queries (EXCEPT ALL both ways)."""
    na, nb = one(con, f"SELECT count(*) FROM ({a})"), one(con, f"SELECT count(*) FROM ({b})")
    extra = one(con, f"SELECT count(*) FROM (({a}) EXCEPT ALL ({b}))")
    missing = one(con, f"SELECT count(*) FROM (({b}) EXCEPT ALL ({a}))")
    if na != nb or extra or missing:
        return [f"{name}: {na} rows vs {nb} expected, {extra} unexpected, {missing} missing"]
    return []


# ------------------------------------------------------------------ checkers

def check_landing(con, name, land, arch, expected, key):
    """Rows are conserved from the expected source rows into the landing
    zone and the archive."""
    return (same_rows(con, f"{name} landzone", f"SELECT {key} FROM {land}",
                      f"SELECT {key} FROM {expected}")
            + same_rows(con, f"{name} archive", f"SELECT {key} FROM {arch}",
                        f"SELECT {key} FROM {expected}"))


def check_watermark(con, name, wm_value, landed, col):
    """A watermark equals the max of the update column over the rows it landed."""
    want = one(con, f"SELECT max({col}) FROM {landed}")
    return [] if str(want) == wm_value else [f"{name} watermark {wm_value!r} != max {col} ({want})"]


def qc_expected(con, rel, spec):
    nulls, defaults, dup, clean = spec
    e = {}
    n_cols = len(con.execute(f"SELECT * FROM {rel} LIMIT 0").description)
    aggs = [f"count(*) FILTER (WHERE {c} IS NULL) AS \"null_{c}\"" for c in nulls]
    aggs += [f"count(*) FILTER (WHERE {c} IS NOT NULL AND {c} <> {v}) AS \"viol_{c}\""
             for c, v in defaults]
    for n, c, pr in clean:
        aggs += [f"count(*) FILTER (WHERE {c} IS NOT NULL AND ({pr})) AS \"valid_{n}\"",
                 f"count(*) FILTER (WHERE {c} IS NOT NULL) AS \"total_{n}\""]
    if dup:
        aggs.append(f"count(*) - count(DISTINCT ({', '.join(dup)})) AS dup_rows")
    aggs.append("count(*) AS n_rows")
    cur = con.execute(f"SELECT {', '.join(aggs)} FROM {rel}")
    row = cur.fetchone()
    e.update({d[0]: v for d, v in zip(cur.description, row)})
    e["n_cols"] = n_cols
    for n, _, _ in clean:
        t = e[f"total_{n}"]
        e[f"rate_{n}"] = 100.0 * e[f"valid_{n}"] / t if t else None
    return e


def check_qc_report(con, name, report, rel, spec):
    """Every figure of a QC report equals the DuckDB count over the data
    it describes."""
    want = qc_expected(con, rel, spec)
    bad = []
    for k, v in want.items():
        got = report.get(k, "<missing>")
        if isinstance(v, float) and isinstance(got, (int, float)):
            ok = abs(got - v) <= 1e-9 * max(1.0, abs(v))
        else:
            ok = got == v
        if not ok:
            bad.append(f"{k}={got!r} (want {v!r})")
    return [f"QC report {name}: " + ", ".join(bad)] if bad else []


def sessions_expected_sql(events):
    """E2 recomputed: drop re-sent events (first per user, type, content by
    (ts, id)), open a session where the gap to the user's previous event
    exceeds 30 minutes, merge each session into its first event."""
    return f"""
      WITH b AS (
        SELECT event_id AS entry_id, ts, CAST(epoch(ts) AS BIGINT) AS ts_sec, user_id,
               event_type, props AS visible_content,
               CAST(floor(value) AS BIGINT) AS pageview_count FROM {events}),
      d AS (SELECT * FROM b QUALIFY row_number() OVER (
              PARTITION BY user_id, event_type, visible_content ORDER BY ts, entry_id) = 1),
      g AS (SELECT *, ts_sec - lag(ts_sec) OVER (PARTITION BY user_id ORDER BY ts, entry_id) AS gap
            FROM d),
      s AS (SELECT *, 1 + sum(CASE WHEN gap IS NULL OR gap > {GAP_SECONDS} THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id ORDER BY ts, entry_id ROWS UNBOUNDED PRECEDING) AS session_id
            FROM g)
      SELECT user_id, session_id, entry_id, epoch_us(ts) AS start_us,
             sum(pageview_count) OVER (PARTITION BY user_id, session_id) AS pv
      FROM s QUALIFY row_number() OVER (PARTITION BY user_id, session_id ORDER BY ts, entry_id) = 1"""


def check_sessions(con, bronze, events):
    """Session ids follow the 30-minute gap rule per user, and the merge
    keeps the total of pageviews."""
    got = (f"SELECT user_id, session_id, entry_id, epoch_us(CAST(session_start AS TIMESTAMP)) AS start_us, "
           f"pageview_count_sum AS pv FROM {bronze}")
    out = same_rows(con, "E2 sessions", got, sessions_expected_sql(events))
    want_pv = one(con, f"SELECT sum(pv) FROM ({sessions_expected_sql(events)})")
    got_pv = one(con, f"SELECT sum(pageview_count_sum) FROM {bronze}")
    if got_pv != want_pv:
        out.append(f"E2 pageviews {got_pv} != {want_pv} after dedup")
    return out


def check_incremental(con, landed, slices, batches):
    """Across the batches every source row lands exactly once, in the
    batch of its own slice, with no gaps and no duplicates."""
    out = same_rows(con, "landed once", f"SELECT key, upd FROM {landed}",
                    f"SELECT key, upd FROM {slices}")
    dups = one(con, f"SELECT count(*) - count(DISTINCT (key, upd)) FROM {landed}")
    if dups:
        out.append(f"{dups} rows landed more than once")
    out += same_rows(con, "rows land in their own slice's batch",
                     f"SELECT key, upd, stamp FROM {landed}",
                     f"SELECT s.key, s.upd, b.stamp FROM {slices} s JOIN {batches} b USING (slice)")
    return out


def check_keep_latest(con, name, bronze, landed):
    """Bronze holds exactly the latest landed version of every key."""
    return same_rows(con, f"{name} bronze keep-latest", f"SELECT key, upd FROM {bronze}",
                     f"SELECT key, upd FROM {landed} QUALIFY row_number() OVER "
                     f"(PARTITION BY key ORDER BY upd DESC) = 1")


def check_exact_dedup(con, kept, scored_text):
    """Exactly one document (the lowest id) per content digest."""
    return same_rows(con, "exact dedup", f"SELECT doc_id, n_copies FROM {kept}",
                     f"SELECT min(doc_id), count(*) FROM {scored_text} GROUP BY md5(text)")


def shingles(text, n=3):
    t = text.split()
    return {tuple(t[i:i + n]) for i in range(len(t) - n + 1)}


def check_pairs(con, pairs, texts, threshold=0.5):
    """Every returned pair is ordered and its word-3-shingle Jaccard,
    computed here, is at least the threshold and equals the reported one."""
    bad = 0
    for a, b, j in con.execute(f"SELECT id_a, id_b, jaccard FROM {pairs}").fetchall():
        sa, sb = shingles(texts[a]), shingles(texts[b])
        true_j = len(sa & sb) / len(sa | sb)
        if not (a < b and true_j >= threshold and abs(true_j - float(j)) < 1e-9):
            bad += 1
    return [f"{bad} near-dup pairs fail the Jaccard recomputation"] if bad else []


def union_find_labels(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def check_clusters(con, clusters, pairs):
    """Cluster labels equal a union-find over the returned pairs (label =
    the smallest id of the component)."""
    want = union_find_labels(con.execute(f"SELECT id_a, id_b FROM {pairs}").fetchall())
    got = dict(con.execute(f"SELECT id, cluster FROM {clusters}").fetchall())
    if got == want:
        return []
    wrong = sum(1 for k in set(got) | set(want) if got.get(k) != want.get(k))
    return [f"{wrong} cluster labels differ from union-find over the pairs "
            f"({len(set(got.values()))} clusters vs {len(set(want.values()))})"]


def check_planted(con, clusters, kept, planted, min_recall=0.9):
    """The planted near-dup clusters are recovered: no returned cluster
    spans two planted clusters or an unplanted document, and at least
    `min_recall` of the planted clusters come back whole."""
    label = dict(con.execute(f"SELECT id, cluster FROM {clusters}").fetchall())
    kept_ids = {r[0] for r in con.execute(f"SELECT doc_id FROM {kept}").fetchall()}
    home = {d: i for i, m in enumerate(planted) for d in m}
    out = []
    spans = {}
    for d, lab in label.items():
        spans.setdefault(lab, set()).add(home.get(d, -1 - d))
    merged = sum(1 for s in spans.values() if len(s) > 1)
    if merged:
        out.append(f"{merged} returned clusters mix planted clusters or unplanted documents")
    whole = 0
    for m in planted:
        live = [d for d in m if d in kept_ids]
        if len({label.get(d) for d in live}) == 1 and None not in {label.get(d) for d in live}:
            whole += 1
    if whole < min_recall * len(planted):
        out.append(f"only {whole}/{len(planted)} planted clusters recovered whole")
    return out


def check_survivors(con, survivors, kept, clusters):
    """One canonical document (the cluster label) per cluster, plus every
    unclustered document."""
    return same_rows(con, "canonical survivors", f"SELECT doc_id FROM {survivors}",
                     f"SELECT doc_id FROM {kept} k LEFT JOIN {clusters} c ON c.id = k.doc_id "
                     f"WHERE c.cluster IS NULL OR c.cluster = k.doc_id")


# --------------------------------------------------------- mapping the lake

def _view(con, name, sql):
    con.execute(f"CREATE OR REPLACE VIEW {name} AS {sql}")


def _json(path):
    return f"read_json_auto('{path}/*.json', format='newline_delimited')"


def _pq(path):
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning=false)"


def run_medallion_dag(con, inputs, check):
    lake = check["lake"]
    day, stamp = check["batch_day"], check["batch_stamp"]
    land = lambda zone, t, fmt: f"{lake}/{zone}/{t}/{fmt}/{day}/{stamp}_{t}.{fmt}"  # noqa: E731
    # parsed once: every landing and report check reads it
    con.execute(f"CREATE TABLE pl_csv AS SELECT * FROM read_csv('{inputs}/problemlog.csv', header=true)")
    _view(con, "ex_csv", f"SELECT * FROM read_csv('{inputs}/exercise.csv', header=true)")
    _view(con, "users_src", f"SELECT * FROM read_parquet('{inputs}/users.parquet')")
    _view(con, "events_src", f"SELECT * FROM read_parquet('{inputs}/events.parquet')")
    cut = f"{round(E3_SAMPLE_FRACTION * 256):02x}"
    _view(con, "pl_expected", "SELECT * FROM pl_csv WHERE md5(CAST(user_id AS VARCHAR) || '#' || "
                              f"CAST(time_done AS VARCHAR)) < '{cut}'")
    for t, v in [("ProblemLog", "pl"), ("Exercise", "ex")]:
        _view(con, f"{v}_land", f"SELECT * FROM {_json(land('landzone/batch', t, 'json'))}")
        _view(con, f"{v}_arch", f"SELECT * FROM {_pq(land('archive/archives', t, 'parquet'))}")
    _view(con, "syn_bronze", f"SELECT * FROM {_pq(lake + '/bronze/browsing_synthesis')}")
    _view(con, "users_bronze", f"SELECT * FROM {_pq(lake + '/bronze/users')}")
    _view(con, "e2_bronze", f"SELECT * FROM {_pq(lake + '/bronze/browsing')}")
    out = check_landing(con, "E3 ProblemLog", "pl_land", "pl_arch", "pl_expected", "user_id, time_done")
    out += check_landing(con, "E3 Exercise", "ex_land", "ex_arch", "ex_csv", "name")
    out += same_rows(con, "J1 browsing synthesis",
                     "SELECT user_id, time_done, exercise, topic, area FROM syn_bronze",
                     "SELECT p.user_id, p.time_done, p.exercise, e.topic, e.area FROM pl_arch p "
                     "LEFT JOIN ex_csv e ON e.name = p.exercise")
    out += same_rows(con, "J1 users synthesis", "SELECT user_id, updated_at FROM users_bronze",
                     "SELECT user_id, updated_at FROM users_src")
    out += check_sessions(con, "e2_bronze", "events_src")
    rep = lambda n: json.load(open(f"{lake}/reports/{n}.json"))  # noqa: E731
    for name, rel, spec in [("e3_problemlog", "pl_arch", "problemlog"),
                            ("e3_exercise", "ex_arch", "exercise"),
                            ("j1_browsing_synthesis", "syn_bronze", "browsing_synthesis"),
                            ("j1_users_synthesis", "users_bronze", "users"),
                            ("e2_browsing", "e2_bronze", "bronze_browsing")]:
        out += check_qc_report(con, name, rep(name), rel, SPECS[spec])
    return out + check_micro_batches(con, inputs, check)


def check_micro_batches(con, inputs, check):
    lake = check["stream_lake"]
    batches = check["batches"]
    n = check["slices_landed"]
    if n == 0:
        return ["no batch ran"]
    con.execute("CREATE TABLE batches (slice INTEGER, stamp VARCHAR)")
    con.executemany("INSERT INTO batches VALUES (?, ?)", [(b["slice"], b["stamp"]) for b in batches])
    out = []
    for t, short, key in [("users", "users", "user_id"), ("browsinghistory", "browsing", "entry_id")]:
        files = [f"{inputs}/slices/{short}/{i:05d}.parquet" for i in range(n)]
        _view(con, f"{short}_slices",
              f"SELECT {key} AS key, updated_us AS upd, CAST(regexp_extract(filename, "
              f"'(\\d+)\\.parquet$', 1) AS INTEGER) AS slice FROM read_parquet({files!r}, filename=true)")
        _view(con, f"{short}_landed",
              f"SELECT *, {key} AS key, updated_us AS upd, regexp_extract(filename, '/(\\d{{14}})_', 1) AS stamp "
              f"FROM read_json_auto('{lake}/landzone/stream/{t}/json/*/*/*.json', "
              f"format='newline_delimited', filename=true)")
        _view(con, f"{short}_arch",
              f"SELECT *, {key} AS key, updated_us AS upd, regexp_extract(filename, '/(\\d{{14}})_', 1) AS stamp "
              f"FROM read_parquet('{lake}/archive/archives/{t}/parquet/*/*/*.parquet', filename=true)")
        _view(con, f"{short}_bronze", f"SELECT {key} AS key, updated_us AS upd FROM "
                                      f"read_parquet('{lake}/bronze/{short}/*/*.parquet')")
        out += [f"{t}: {m}" for m in check_incremental(con, f"{short}_landed", f"{short}_slices", "batches")]
        out += same_rows(con, f"{t} archive", f"SELECT key, upd, stamp FROM {short}_arch",
                         f"SELECT key, upd, stamp FROM {short}_landed")
        out += check_keep_latest(con, t, f"{short}_bronze", f"{short}_landed")
        for b in batches:
            rel = f"(SELECT * EXCLUDE (key, upd, stamp, filename) FROM {short}_arch WHERE stamp = '{b['stamp']}')"
            out += check_watermark(con, f"{t} batch {b['slice']}", b["watermarks"].get(t), rel, "updated_us")
            report = json.load(open(f"{lake}/reports/{short}/{b['stamp']}.json"))
            out += check_qc_report(con, f"{short}/{b['stamp']}", report, rel,
                                   SPECS["inc_" + short])
    return out


def run_curation_corpus(con, inputs, check):
    cd = check["check_dir"]
    _view(con, "corpus", f"SELECT * FROM read_parquet('{inputs}/corpus.parquet')")
    for n in ("scored", "kept", "pairs", "clusters"):
        _view(con, n, f"SELECT * FROM {_pq(cd + '/' + n)}")
    _view(con, "survivors", f"SELECT * FROM {_pq(check['lake'] + '/survivors')}")
    _view(con, "scored_text", "SELECT s.doc_id, c.text FROM scored s JOIN corpus c USING (doc_id)")
    planted = json.load(open(f"{inputs}/truth.json"))["planted_clusters"]
    texts = dict(con.execute("SELECT doc_id, text FROM corpus WHERE doc_id IN "
                             "(SELECT id_a FROM pairs UNION SELECT id_b FROM pairs)").fetchall())
    return (check_exact_dedup(con, "kept", "scored_text")
            + check_pairs(con, "pairs", texts)
            + check_clusters(con, "clusters", "pairs")
            + check_planted(con, "clusters", "kept", planted)
            + check_survivors(con, "survivors", "kept", "clusters"))


def run(workload, inputs, check):
    con = connect()
    try:
        return {"medallion_dag": run_medallion_dag,
                "curation_corpus": run_curation_corpus}[workload](con, inputs, check)
    except (duckdb.Error, OSError, KeyError) as e:
        return [f"check could not read the outputs: {e!r}"]
    finally:
        con.close()
