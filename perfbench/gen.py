"""Seeded inputs of the benchmark workloads.

The base tables come from the program's own generator (graft.GenData, the
skewed-source variant for documents); they do not depend on the seed and are
made once per checkout. Everything a workload reads is derived from them here
with numpy's seeded generator: which jobs and documents are drawn, their ids,
the order of arrivals and the job requests. The program receives only the
files written here.
"""
import json
import os

import duckdb
import numpy as np

# GenData base sizes: the sf0.1 row counts of the tables the workloads read;
# every other table is generated with one row.
BASE_ROWS = {"orders": 150000, "documents": 5000, "embeddings": 2000}
OTHER_TABLES = ["customer", "supplier", "part", "lineitem", "events"]

# Sizes of one iteration of each workload.
JD_FILES = 12            # request files drained per iteration, one per poll
JD_PER_FILE = 150        # job requests per file
JD_MISSING = 0.05        # share of requests whose source cannot be read
JD_SNAPSHOT = 60000      # jobs in the runRound / f1 snapshot
JD_ROUNDS = 5            # runRound + f1 rounds per iteration
JD_ROUND_CAPACITY = 2000 # claims per runRound
CORPUS_DOCS = 400        # documents of the corpus build, probed by the ingest gates
CORPUS_VECS = 200        # embeddings of the corpus build
SHARD_CAP = 250          # rows per export shard file
IG_ROUNDS = 2            # ingest rounds per iteration (drain, then fold)
IG_FILES = 1             # arrival files per round, one per micro-batch
IG_PER_FILE = 500        # arrivals per file
IG_EXACT = 0.10          # arrivals that copy a corpus text exactly
IG_NEAR = 0.10           # arrivals that copy a corpus text minus its last word
IG_CAP = 125             # per-source budget of the capped front door

FORMAT_IDS = [1, 2, 3, 4, 5, 6]
NORMALISE = [-23, -16, -24]


def write_template(dirpath):
    """Template tables GenData sizes its output from: row counts only, plus
    the fixed region and nation dimensions it copies."""
    os.makedirs(dirpath, exist_ok=True)
    con = duckdb.connect()
    for t, n in list(BASE_ROWS.items()) + [(t, 1) for t in OTHER_TABLES]:
        con.execute(f"COPY (SELECT range AS k FROM range({n})) TO "
                    f"'{dirpath}/{t}.parquet' (FORMAT parquet)")
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    con.execute(
        f"COPY (SELECT range::INTEGER AS r_regionkey, "
        f"list_extract({regions}, (range + 1)::INTEGER) AS r_name "
        f"FROM range(5)) TO '{dirpath}/region.parquet' (FORMAT parquet)")
    con.execute(
        f"COPY (SELECT range::INTEGER AS n_nationkey, 'NATION' || range AS n_name, "
        f"(range % 5)::INTEGER AS n_regionkey FROM range(25)) "
        f"TO '{dirpath}/nation.parquet' (FORMAT parquet)")


def _write(con, df_name, path):
    con.execute(f"COPY {df_name} TO '{path}' (FORMAT parquet)")


def derive(workload, seed, base, out):
    """Write the inputs of one run of `workload` under `out`; returns the
    input make-up as a dict (printed by the wrapper)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    params = {}
    makeup = {}
    if workload == "job_dispatch":
        keys = con.execute(f"SELECT o_orderkey FROM '{base}/orders.parquet/*.parquet' "
                           "ORDER BY o_orderkey").fetchnumpy()["o_orderkey"]
        # a seeded sample of the 10x key space, one job per drawn key
        drawn = np.sort(rng.choice(10 * len(keys), size=JD_SNAPSHOT, replace=False))
        snap = con.execute(f"SELECT * FROM '{base}/orders.parquet/*.parquet' ORDER BY o_orderkey "
                           f"LIMIT {JD_SNAPSHOT}").df()
        snap["o_orderkey"] = drawn.astype(np.int64)
        os.makedirs(f"{out}/snapshot", exist_ok=True)
        con.register("snap", snap)
        _write(con, "snap", f"{out}/snapshot/orders.parquet")
        n = JD_FILES * JD_PER_FILE
        ids = rng.choice(10 ** 9, size=n, replace=False).astype(np.int64)
        missing = rng.random(n) < JD_MISSING
        norm = rng.integers(0, len(NORMALISE), n)
        has_norm = rng.random(n) < 0.5
        import pandas as pd
        req = pd.DataFrame({
            "id": ids,
            "source_file": [f"/vids/{'missing' if m else 'raw'}/{i}.mov"
                            for i, m in zip(ids, missing)],
            "destination_file": [f"/vids/out/{i}.mp4" for i in ids],
            "format_id": rng.choice(FORMAT_IDS, n).astype(np.int32),
            "priority": np.round(rng.random(n) * 10, 2),
            "normalise_level": pd.array(
                [NORMALISE[k] if h else None for k, h in zip(norm, has_norm)],
                dtype="Int32"),
            "passes": rng.integers(1, 4, n).astype(np.int32),
            "apply_mp4box": rng.random(n) < 0.3,
        })
        os.makedirs(f"{out}/requests", exist_ok=True)
        for f in range(JD_FILES):
            part = req.iloc[f * JD_PER_FILE:(f + 1) * JD_PER_FILE]
            con.register("part", part)
            _write(con, "part", f"{out}/requests/part-{f:04d}.parquet")
            con.unregister("part")
        params = {"jd.requests": n, "jd.capacity": JD_PER_FILE,
                  "jd.rounds": JD_ROUNDS, "jd.round_capacity": JD_ROUND_CAPACITY}
        makeup = {"requests": n, "files": JD_FILES, "unreadable_sources": int(missing.sum()),
                  "snapshot_jobs": JD_SNAPSHOT, "rounds": JD_ROUNDS,
                  "round_claims": JD_ROUND_CAPACITY}
    elif workload == "corpus_ingest":
        docs = con.execute(f"SELECT * FROM '{base}/documents.parquet/*.parquet' ORDER BY doc_id").df()
        perm = rng.permutation(len(docs))
        # the corpus: CORPUS_DOCS documents with seeded ids 0 .. CORPUS_DOCS-1
        corpus = docs.iloc[np.sort(perm[:CORPUS_DOCS])].reset_index(drop=True)
        corpus["doc_id"] = rng.permutation(CORPUS_DOCS).astype(np.int64)
        corpus = corpus.sort_values("doc_id").reset_index(drop=True)
        emb = con.execute(f"SELECT * FROM '{base}/embeddings.parquet/*.parquet' ORDER BY vec_id").df()
        esub = emb.iloc[np.sort(rng.choice(len(emb), size=CORPUS_VECS, replace=False))].reset_index(drop=True)
        esub["vec_id"] = rng.permutation(CORPUS_VECS).astype(np.int64)
        esub = esub.sort_values("vec_id").reset_index(drop=True)
        os.makedirs(f"{out}/corpus", exist_ok=True)
        con.register("docs_df", corpus)
        _write(con, "(SELECT doc_id, text, lang, source, n_chars FROM docs_df)",
               f"{out}/corpus/documents.parquet")
        con.register("emb_df", esub)
        _write(con, "(SELECT vec_id, CAST(embedding AS FLOAT[]) AS embedding, label FROM emb_df)",
               f"{out}/corpus/embeddings.parquet")
        # arrivals: unseen documents, plus exact and last-word-dropped
        # copies of corpus texts, with ids after the corpus's
        pool = docs.iloc[perm[CORPUS_DOCS:]].reset_index(drop=True)
        n = IG_ROUNDS * IG_FILES * IG_PER_FILE
        n_exact = int(round(n * IG_EXACT))
        n_near = int(round(n * IG_NEAR))
        new = pool.iloc[rng.choice(len(pool), size=n - n_exact - n_near, replace=False)]
        src_exact = corpus.iloc[rng.choice(len(corpus), size=n_exact, replace=False)]
        src_near = corpus.iloc[rng.choice(len(corpus), size=n_near, replace=False)]
        import pandas as pd
        arr = pd.concat([
            pd.DataFrame({"source": new["source"].values, "text": new["text"].values}),
            pd.DataFrame({"source": src_exact["source"].values, "text": src_exact["text"].values}),
            pd.DataFrame({"source": src_near["source"].values,
                          "text": [t.rsplit(" ", 1)[0] for t in src_near["text"].values]})],
            ignore_index=True)
        arr["doc_id"] = (CORPUS_DOCS + rng.permutation(n)).astype(np.int64)
        arr = arr.iloc[rng.permutation(n)].reset_index(drop=True)
        per_round = IG_FILES * IG_PER_FILE
        for r in range(IG_ROUNDS):
            os.makedirs(f"{out}/arrivals/r{r}", exist_ok=True)
            for f in range(IG_FILES):
                lo = r * per_round + f * IG_PER_FILE
                part = arr.iloc[lo:lo + IG_PER_FILE][["doc_id", "source", "text"]]
                con.register("part", part)
                _write(con, "part", f"{out}/arrivals/r{r}/f{f}.parquet")
                con.unregister("part")
        params = {"cb.docs": CORPUS_DOCS, "cb.shard_cap": SHARD_CAP,
                  "ig.rounds": IG_ROUNDS, "ig.cap": IG_CAP}
        by_src = arr.groupby("source").size().sort_values(ascending=False)
        makeup = {"corpus_docs": CORPUS_DOCS, "embeddings": CORPUS_VECS, "shard_cap": SHARD_CAP,
                  "arrivals_per_round": per_round, "rounds": IG_ROUNDS, "files_per_round": IG_FILES,
                  "exact_copy_share": n_exact / n, "near_copy_share": n_near / n, "cap": IG_CAP,
                  "arrivals_top_sources": {k: int(v) for k, v in by_src.head(4).items()}}
    else:
        raise ValueError(f"unknown workload {workload}")
    with open(f"{out}/params.properties", "w") as f:
        for k, v in params.items():
            f.write(f"{k}={v}\n")
    with open(f"{out}/makeup.json", "w") as f:
        json.dump(makeup, f)
    return makeup
