"""Output checks of the benchmark workloads.

Every check compares the program's written outputs with a computation made
here from the generated inputs (DuckDB or numpy), or with a property the
method must have. None compares with a stored copy of earlier output.

Each check is a pure function over plain rows and returns a list of failure
messages; the `check_<workload>` functions load one run's outputs, apply
them, and count the operations attempted and those whose own check failed
(an `Outcome`). `selftest.py` plants wrong outputs into each pure check.
"""
import glob
import hashlib
import os
from collections import defaultdict

import duckdb
import numpy as np

SERVER = "encsrv01"

# The program's format table, as the reference schema defines it: passes,
# loudness normalisation target, MP4Box post-processing.
FORMATS = {1: (2, None), 2: (2, -23), 3: (1, None), 4: (1, -16), 5: (1, None), 6: (2, -24)}

JACCARD_BAR = 0.5
COSINE_BAR = 0.999


class Outcome:
    """What the checks found in one run: failure messages (of single
    operations and of the run as a whole), the number of operations
    attempted, and the number whose own check failed."""

    def __init__(self):
        self.fails = []
        self.attempted = 0
        self.failed = 0

    def op(self, attempted, bad):
        self.attempted += attempted
        self.failed += len(bad)


def expected_walk(source_file, normalise_level, passes):
    """The status sequence one claimed job must emit: claim, copy, optional
    loudness analysis, one event per encoding pass, move, done; a source
    that cannot be read ends in Error right after the claim."""
    walk = [f"{SERVER} - Waiting"]
    if "missing" in source_file:
        return walk + [f"{SERVER} - Error"]
    walk.append(f"{SERVER} - Copying Source 100%")
    if normalise_level is not None:
        walk.append(f"{SERVER} - Analysing audio")
    walk += [f"{SERVER} - Encoding Pass {p}" for p in range(1, passes + 1)]
    return walk + [f"{SERVER} - Moving File", "Done"]


def _claim_counts(events):
    claims = defaultdict(int)
    for job, status in events:
        if status == f"{SERVER} - Waiting":
            claims[job] += 1
    return claims


def bad_claims(request_ids, events):
    """Requests not claimed exactly once. `events`: (job_id, status) pairs."""
    claims = _claim_counts(events)
    return {j for j in request_ids if claims.get(j, 0) != 1}


def check_claims_once(request_ids, events):
    """Every request is claimed exactly once and nothing else is claimed."""
    claims = _claim_counts(events)
    fails = [f"job {j} claimed {claims.get(j, 0)} times" for j in sorted(bad_claims(request_ids, events))]
    extra = set(claims) - set(request_ids)
    if extra:
        fails.append(f"{len(extra)} claimed jobs were never requested")
    return fails


def _walks(events):
    got = defaultdict(list)
    for job, status in events:
        got[job].append(status)
    return got


def bad_walks(expected, events):
    """Jobs whose status sequence differs from their expected stage walk.
    `expected`: job_id -> list of statuses; `events`: (job_id, status) in
    emission order."""
    got = _walks(events)
    return {job for job, walk in expected.items() if got.get(job) != walk}


def check_walks(expected, events):
    """Each job's status sequence equals its expected stage walk, and no
    other job emits events."""
    got = _walks(events)
    fails = [f"job {j}: walk {got.get(j)} != {expected[j]}" for j in sorted(bad_walks(expected, events))]
    extra = set(got) - set(expected)
    if extra:
        fails.append(f"{len(extra)} jobs emitted events without being claimed")
    return fails[:5] + ([f"... {len(fails) - 5} more"] if len(fails) > 5 else [])


def check_equal(what, got, want):
    return [] if got == want else [f"{what}: got {got}, expected {want}"]


# ---------------------------------------------------------------- job_dispatch

def snapshot_jobs(con, snapshot_dir):
    """The jobs snapshot as the reference's domain defines it over the
    generated order keys: status and priority by key % 10, format by key,
    with key % 97 == 0 a dangling format id."""
    con.execute(f"""
        CREATE OR REPLACE TEMP TABLE jobs AS
        SELECT o_orderkey AS id,
          CASE o_orderkey % 10 WHEN 6 THEN '{SERVER} - Waiting'
            WHEN 7 THEN '{SERVER} - Encoding Pass 2' WHEN 8 THEN '{SERVER} - Error'
            WHEN 9 THEN 'Done' ELSE 'Not Encoding' END AS status,
          5 + o_orderkey % 10 AS priority,
          CASE WHEN o_orderkey % 97 = 0 THEN 99 ELSE CAST(o_orderkey % 6 AS INTEGER) + 1 END AS format_id
        FROM '{snapshot_dir}/orders.parquet'""")


def round_expectations(con, capacity):
    """(claimed id list in dequeue order, expected walks, expected status
    counts after the round, expected f1 command count)."""
    top = con.execute(f"""SELECT id, format_id FROM jobs WHERE status = 'Not Encoding'
        ORDER BY priority DESC, id ASC LIMIT {capacity}""").fetchall()
    walks = {}
    for job, fmt in top:
        if fmt not in FORMATS:
            walks[job] = [f"{SERVER} - Error"]
        else:
            passes, norm = FORMATS[fmt]
            walks[job] = expected_walk(f"/vids/raw/{job}.mov", norm, passes)
    counts = dict(con.execute("SELECT status, count(*) FROM jobs GROUP BY status").fetchall())
    for job, walk in walks.items():
        counts["Not Encoding"] -= 1
        counts[walk[-1]] = counts.get(walk[-1], 0) + 1
    counts = {k: v for k, v in counts.items() if v}
    passes = ", ".join(f"({f}, {p})" for f, (p, _) in FORMATS.items())
    f1 = con.execute(f"""SELECT coalesce(sum(p.passes), 0) FROM jobs j
        JOIN (VALUES {passes}) AS p(format_id, passes) USING (format_id)
        WHERE j.status = 'Not Encoding'""").fetchone()[0]
    return [j for j, _ in top], walks, counts, int(f1)


def check_job_dispatch(result, inputs):
    con = duckdb.connect()
    req = con.execute(f"""SELECT id, source_file, normalise_level, passes
        FROM '{inputs}/requests/*.parquet'""").fetchall()
    request_ids = [r[0] for r in req]
    walks_a = {r[0]: expected_walk(r[1], r[2], r[3]) for r in req}
    snapshot_jobs(con, f"{inputs}/snapshot")
    params = read_params(inputs)
    claimed, walks_b, counts, f1 = round_expectations(con, int(params["jd.round_capacity"]))
    # operations: each request of phase A, each claim of each phase B round
    out = Outcome()
    fails = out.fails
    for it in result["iterations"]:
        c = it["check"]
        ev = con.execute(f"""SELECT column0, column3 FROM read_csv('{c["events_a"]}', header=false,
            columns={{'column0': 'BIGINT', 'column1': 'BIGINT', 'column2': 'INTEGER', 'column3': 'VARCHAR'}})
            ORDER BY column1, column2""").fetchall()
        fails += check_claims_once(request_ids, ev)
        fails += check_walks(walks_a, ev)
        out.op(len(request_ids), bad_claims(request_ids, ev) | bad_walks(walks_a, ev))
        for rd in c["rounds"]:
            evb = con.execute(f"SELECT job_id, status FROM '{rd['events_b']}/*.parquet' ORDER BY ord").fetchall()
            out.op(len(walks_b), bad_walks(walks_b, evb))
            fails += check_equal("round claim set", sorted({j for j, _ in evb}), sorted(claimed))
            fails += check_walks(walks_b, evb)
            fails += check_equal("round event count", rd["round_events"], len(evb))
            fails += check_equal("status counts after the round", rd["final_status"], counts)
            fails += check_equal("f1 command rows", rd["f1_rows"], f1)
            fails += check_equal("f1 non-null commands", rd["f1_cmds"], f1)
    return out


# ---------------------------------------------------- corpus_ingest: ingest

def landed_twice(landed):
    """Docs landed more than once. `landed`: (doc_id, ...) rows."""
    seen = defaultdict(int)
    for row in landed:
        seen[row[0]] += 1
    return sorted(d for d, n in seen.items() if n > 1)


def check_landed_once(landed):
    """No document lands twice."""
    dup = landed_twice(landed)
    return [f"{len(dup)} docs landed more than once, e.g. {dup[:3]}"] if dup else []


def not_arrived(landed, arrived):
    """Landed docs that did not arrive, with the same source and text, in
    the round they landed in. Both maps: doc_id -> (source, text)."""
    return sorted(d for d, v in landed.items() if arrived.get(d) != v)


def check_landed_arrived(landed_by_round, arrivals_by_round):
    """Every landed doc arrived, with the same source and text, in the round
    it landed in. Both maps: round -> {doc_id: (source, text)}."""
    fails = []
    for r, landed in landed_by_round.items():
        bad = not_arrived(landed, arrivals_by_round.get(r, {}))
        if bad:
            fails.append(f"round {r}: {len(bad)} landed docs did not arrive in it, e.g. {bad[:3]}")
    return fails


def in_corpus(landed, corpus_texts):
    """Landed docs whose text byte-equals a corpus text. `landed`:
    (doc_id, text) rows."""
    return sorted(d for d, t in landed if t in corpus_texts)


def check_not_in_corpus(landed, corpus_texts):
    """No landed text byte-equals a text the corpus held when it landed."""
    hit = in_corpus(landed, corpus_texts)
    return [f"{len(hit)} landed texts equal a corpus text, e.g. docs {hit[:3]}"] if hit else []


def check_cap(landed_sources, cap):
    """Landed docs per source stay within the cap."""
    n = defaultdict(int)
    for s in landed_sources:
        n[s] += 1
    over = {s: k for s, k in n.items() if k > cap}
    return [f"sources over the cap {cap}: {over}"] if over else []


def check_fold_audit(audit, landed_rows, appended_rows):
    """The fold's audit conserves arrivals: it saw exactly the round's landed
    rows, its kill tiers and appended rows add up to them, and it appended
    the rows it says it did."""
    tiers = ["n_batch_exact", "n_corpus_exact", "n_corpus_near", "n_batch_near", "n_appended"]
    fails = check_equal("fold arrivals vs landed rows", audit["n_arrivals"], landed_rows)
    fails += check_equal("fold tiers sum", sum(audit[t] for t in tiers), audit["n_arrivals"])
    fails += check_equal("fold appended rows", audit["n_appended"], appended_rows)
    if any(audit[t] < 0 for t in tiers):
        fails.append(f"negative fold tier: {audit}")
    return fails


def check_stream_vs_batch(stream_by_round, batch_by_round, cap):
    """Where the cap does not bind, the stream's survivors equal the batch
    front door's; where it binds, the stream keeps exactly `cap` of the
    batch survivors. Maps: round -> {source: set(doc_id)}."""
    fails = []
    sources = {s for m in list(stream_by_round.values()) + list(batch_by_round.values()) for s in m}
    for s in sorted(sources):
        batch_total = sum(len(batch_by_round.get(r, {}).get(s, ())) for r in batch_by_round)
        stream_total = sum(len(stream_by_round.get(r, {}).get(s, ())) for r in stream_by_round)
        if batch_total <= cap:
            for r in set(stream_by_round) | set(batch_by_round):
                a = stream_by_round.get(r, {}).get(s, set())
                b = batch_by_round.get(r, {}).get(s, set())
                if a != b:
                    fails.append(f"round {r} source {s}: stream kept {len(a)}, batch {len(b)}")
        else:
            if stream_total != cap:
                fails.append(f"source {s}: cap binds but stream kept {stream_total}")
            for r in stream_by_round:
                extra = stream_by_round[r].get(s, set()) - batch_by_round.get(r, {}).get(s, set())
                if extra:
                    fails.append(f"round {r} source {s}: {len(extra)} survivors the batch gates drop")
    return fails


def check_ingest(result, inputs, con, out):
    """Operations: each arrival offered to the front door. One fails when it
    lands twice, lands in a round it did not arrive in, or lands with a
    corpus text."""
    cap = int(read_params(inputs)["ig.cap"])
    corpus0 = {t for (t,) in con.execute(f"SELECT text FROM '{inputs}/corpus/documents.parquet'").fetchall()}
    arrivals = {}
    for d in sorted(glob.glob(f"{inputs}/arrivals/r*")):
        r = int(os.path.basename(d)[1:])
        arrivals[r] = {i: (s, t) for i, s, t in
                       con.execute(f"SELECT doc_id, source, text FROM '{d}/*.parquet'").fetchall()}
    n_arrivals = sum(len(a) for a in arrivals.values())
    fails = out.fails
    for it in result["iterations"]:
        c = it["check"]
        bad = set()
        land = con.execute(f"""SELECT doc_id, source, text, batch FROM read_parquet(
            '{c["dir"]}/land/batch=*/*.parquet', hive_partitioning=true)""").fetchall()
        fails += check_landed_once(land)
        bad |= set(landed_twice(land))
        fails += check_cap([r[1] for r in land], cap)
        corpus = set(corpus0)
        landed_by_round = {}
        for rd in c["rounds"]:
            r = rd["round"]
            rows = [x for x in land if rd["batch_lo"] <= x[3] <= rd["batch_hi"]]
            landed_by_round[r] = {x[0]: (x[1], x[2]) for x in rows}
            fails += check_not_in_corpus([(x[0], x[2]) for x in rows], corpus)
            bad |= set(in_corpus([(x[0], x[2]) for x in rows], corpus))
            bad |= set(not_arrived(landed_by_round[r], arrivals.get(r, {})))
            app = con.execute(f"SELECT text FROM '{rd['appended']}/*.parquet'").fetchall()
            fails += check_fold_audit(rd["audit"], len(rows), len(app))
            corpus |= {t for (t,) in app}
        in_rounds = {x[0] for rd in c["rounds"] for x in land if rd["batch_lo"] <= x[3] <= rd["batch_hi"]}
        if len(in_rounds) != len(land):
            fails.append(f"{len(land) - len(in_rounds)} landed docs outside every round's batches")
        fails += check_landed_arrived(landed_by_round, arrivals)
        out.op(n_arrivals, bad)
        if it is result["iterations"][0]:
            batch = {}
            for d in sorted(glob.glob(f"{result['out']}/ig-batchfd-r*")):
                r = int(d.rsplit("-r", 1)[1])
                m = defaultdict(set)
                for i, s in con.execute(f"SELECT doc_id, source FROM '{d}/*.parquet'").fetchall():
                    m[s].add(i)
                batch[r] = m
            stream = {}
            for r, docs in landed_by_round.items():
                m = defaultdict(set)
                for i, (s, _) in docs.items():
                    m[s].add(i)
                stream[r] = m
            if len(batch) != len(landed_by_round):
                fails.append("batch front-door outputs missing")
            fails += check_stream_vs_batch(stream, batch, cap)
            # input make-up per source: arrived, kept by the batch gates, landed
            sent = defaultdict(int)
            for a in arrivals.values():
                for s, _ in a.values():
                    sent[s] += 1
            kept = lambda m, s: sum(len(m[r].get(s, ())) for r in m)
            top = sorted(sent, key=lambda s: -sent[s])[:4]
            result.setdefault("check_notes", {})["per_source"] = {
                s: [sent[s], kept(batch, s), kept(stream, s)] for s in top}


# ----------------------------------------------------- corpus_ingest: build

def check_shard_rows(shard_rows_by_lang, expected_by_lang, manifest_by_lang):
    """Shard rows per language equal the audit's expected rows and the
    manifest's counts."""
    fails = check_equal("shard rows per language", shard_rows_by_lang, expected_by_lang)
    return fails + check_equal("manifest rows per language", manifest_by_lang, expected_by_lang)


def check_one_shard(doc_files):
    """No doc_id appears in two shard files (nor twice in one).
    `doc_files`: (doc_id, file) rows."""
    seen = defaultdict(list)
    for d, f in doc_files:
        seen[d].append(f)
    bad = {d: fs for d, fs in seen.items() if len(fs) > 1}
    return [f"{len(bad)} docs exported more than once, e.g. {list(bad.items())[:2]}"] if bad else []


def check_near_dups(pairs_over_bar, candidates):
    """No exported pair at or above the near-dup Jaccard bar is one the
    method's LSH stage made a candidate (those it verifies and drops).
    Returns (failures, number of over-bar pairs LSH never proposed)."""
    bad = [p for p in pairs_over_bar if p in candidates]
    fails = [f"{len(bad)} exported candidate pairs at Jaccard >= {JACCARD_BAR}, e.g. {bad[:3]}"] if bad else []
    return fails, len(pairs_over_bar) - len(bad)


def check_semdedup(ids, cells, kept, vecs):
    """Semantic dedup keeps a vector exactly when no smaller-id vector in its
    cell is within the cosine bar, and every dropped vector has such a
    neighbour that was kept. Arrays are aligned; `vecs` are the inputs."""
    fails = []
    v = vecs.astype(np.float64)
    nrm = np.sqrt((v * v).sum(axis=1))
    for cell in np.unique(cells):
        idx = np.where(cells == cell)[0]
        idx = idx[np.argsort(ids[idx])]
        cos = np.round((v[idx] @ v[idx].T) / np.outer(nrm[idx], nrm[idx]), 6)
        near = np.triu(cos >= COSINE_BAR, k=1)  # near[a, b]: a < b by id
        has_smaller = near.any(axis=0)
        kept_smaller = (near & kept[idx][:, None].astype(bool)).any(axis=0)
        for k, j in enumerate(idx):
            if bool(kept[j]) == bool(has_smaller[k]):
                fails.append(f"vec {ids[j]}: kept={kept[j]} but near smaller neighbour={has_smaller[k]}")
            elif not kept[j] and not kept_smaller[k]:
                fails.append(f"vec {ids[j]}: dropped without a kept smaller neighbour")
    return fails[:5] + ([f"... {len(fails) - 5} more"] if len(fails) > 5 else [])


def corpus_texts(con, corpus_dir):
    """The corpus the text operators build over: the documents plus their
    first-word-stripped (doc_id % 5 == 0) and copied (doc_id % 7 == 0)
    variants, as the program's fixture defines them."""
    d = f"'{corpus_dir}/documents.parquet'"
    return con.execute(f"""
        SELECT doc_id, text FROM {d}
        UNION ALL SELECT doc_id + 1000000, regexp_replace(text, '^\\S+\\s+', '') FROM {d} WHERE doc_id % 5 = 0
        UNION ALL SELECT doc_id + 2000000, text FROM {d} WHERE doc_id % 7 = 0""").fetchall()


def pairs_over_bar(con, texts):
    """Pairs of docs whose word-3-gram sets have Jaccard >= the bar."""
    rows = []
    for d, t in texts:
        w = t.split()
        for s in {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}:
            rows.append((d, s))
    import pandas as pd
    con.register("sh", pd.DataFrame(rows, columns=["doc_id", "shingle"]))
    return {(a, b) for a, b in con.execute(f"""
        WITH n AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        p AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS shared
              FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2)
        SELECT p.a, p.b FROM p JOIN n na ON na.doc_id = p.a JOIN n nb ON nb.doc_id = p.b
        WHERE round(shared / (na.n + nb.n - shared), 6) >= {JACCARD_BAR}""").fetchall()}


def aug_embeddings(con, corpus_dir):
    """Embeddings plus the program's planted near-copies: vec_id % 5 == 0
    gets a +1,000,000 twin whose first dimension is scaled by 1.01."""
    rows = con.execute(f"SELECT vec_id, embedding FROM '{corpus_dir}/embeddings.parquet' ORDER BY vec_id").fetchall()
    ids = [r[0] for r in rows]
    vecs = [np.asarray(r[1], dtype=np.float32) for r in rows]
    for i, v in zip(list(ids), list(vecs)):
        if i % 5 == 0:
            m = v.copy()
            m[0] = np.float32(np.float64(v[0]) * 1.01)
            ids.append(i + 1000000)
            vecs.append(m)
    return np.asarray(ids), np.stack(vecs)


def check_build(result, inputs, con, out):
    corpus_dir = f"{inputs}/corpus"
    texts = dict(corpus_texts(con, corpus_dir))
    aug_ids, aug_vecs = aug_embeddings(con, corpus_dir)
    fails = out.fails
    lsh_missed = []
    for it in result["iterations"]:
        c = it["check"]
        shard = con.execute(f"""SELECT doc_id, lang, filename FROM read_parquet(
            '{c["shards"]}/lang=*/*.parquet', hive_partitioning=true, filename=true)""").fetchall()
        by_lang = defaultdict(int)
        for _, lang, _ in shard:
            by_lang[lang] += 1
        man = defaultdict(int)
        for m in c["manifest"]:
            man[m["lang"]] += m["n_rows"]
        fails += check_shard_rows(dict(by_lang), c["expected"], dict(man))
        fails += check_one_shard([(d, f) for d, _, f in shard])
        exported = sorted({d for d, _, _ in shard})
        unknown = [d for d in exported if d not in texts]
        if unknown:
            fails.append(f"{len(unknown)} exported doc_ids not in the corpus")
        over = pairs_over_bar(con, [(d, texts[d]) for d in exported if d in texts])
        tag = hashlib.md5(c["dir"].encode()).hexdigest()
        cands_dirs = glob.glob(f"{result['work']}/target/graft-ckpt-shared/cands-{tag}-*")
        if len(cands_dirs) != 1:
            fails.append(f"LSH candidate snapshot of {c['dir']} not found")
            cands = set()
        else:
            cands = set(con.execute(f"SELECT doc_a, doc_b FROM '{cands_dirs[0]}/*.parquet'").fetchall())
        f, missed = check_near_dups(over, cands)
        fails += f
        lsh_missed.append(missed)
        v8 = con.execute(f"SELECT vec_id, cell, is_kept FROM '{c['v8']}/*.parquet' ORDER BY vec_id").fetchnumpy()
        if not np.array_equal(v8["vec_id"], np.sort(aug_ids)):
            fails.append("semantic dedup output does not cover exactly the input vectors")
        else:
            order = np.argsort(aug_ids)
            fails += check_semdedup(v8["vec_id"], v8["cell"], v8["is_kept"], aug_vecs[order])
    result.setdefault("check_notes", {})["lsh_missed_pairs_over_bar"] = lsh_missed


def read_params(inputs):
    out = {}
    with open(f"{inputs}/params.properties") as f:
        for line in f:
            if "=" in line:
                k, v = line.strip().split("=", 1)
                out[k] = v
    return out


def check_corpus_ingest(result, inputs):
    con = duckdb.connect()
    out = Outcome()
    check_build(result, inputs, con, out)
    check_ingest(result, inputs, con, out)
    return out


CHECKS = {"job_dispatch": check_job_dispatch, "corpus_ingest": check_corpus_ingest}
