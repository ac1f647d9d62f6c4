#!/usr/bin/env python3
"""Self-test of the benchmark's output checks (a few seconds, no JVM).

Usage (from the repository root): python3 perfbench/selftest.py

Each check first runs on small outputs that are right and must pass, then on
the same outputs with one planted fault and must fail: a job missing its
terminal event, a job claimed twice, a wrong claim set or status count, a
doc landed twice, a doc landed in the wrong round, a corpus text landed, a
source over its cap, a fold audit that loses an arrival, a stream survivor
the batch gates drop, a shard row dropped, a doc in two shards, an exported
candidate near-dup pair, a wrongly kept or dropped vector. Exits 1 if any
check misses its fault.
"""
import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import checks as c  # noqa: E402

W = f"{c.SERVER} - Waiting"
ERR = f"{c.SERVER} - Error"
failures = []


def expect(name, ok_result, bad_result):
    if ok_result:
        failures.append(f"{name}: failed on right outputs: {ok_result}")
    if not bad_result:
        failures.append(f"{name}: missed the planted fault")
    print(f"{'ok ' if not ok_result and bad_result else 'BAD'} {name}")


def walk_events(walks):
    return [(j, s) for j, w in walks.items() for s in w]


def main():
    # job_dispatch ---------------------------------------------------------
    walks = {1: c.expected_walk("/vids/raw/1.mov", -23, 2),
             2: c.expected_walk("/vids/missing/2.mov", None, 1),
             3: c.expected_walk("/vids/raw/3.mov", None, 1)}
    assert walks[2] == [W, ERR] and walks[1][-1] == "Done"
    ev = walk_events(walks)
    no_done = [e for e in ev if e != (3, "Done")]
    expect("job missing its terminal event", c.check_walks(walks, ev), c.check_walks(walks, no_done))
    expect("job claimed twice", c.check_claims_once([1, 2, 3], ev),
           c.check_claims_once([1, 2, 3], ev + [(2, W)]))
    expect("job never claimed", c.check_claims_once([1, 2, 3], ev),
           c.check_claims_once([1, 2, 3, 4], ev))
    # the failed-operation counts name exactly the faulty operations
    assert c.bad_walks(walks, no_done) == {3} and c.bad_claims([1, 2, 3], ev + [(2, W)]) == {2}
    expect("wrong round claim set", c.check_equal("claims", [1, 2, 3], [1, 2, 3]),
           c.check_equal("claims", [1, 2, 4], [1, 2, 3]))
    expect("wrong status count", c.check_equal("counts", {"Done": 2}, {"Done": 2}),
           c.check_equal("counts", {"Done": 1, "Not Encoding": 1}, {"Done": 2}))

    # ingest_stream --------------------------------------------------------
    landed = [(10, "src0", "a b c", 0), (11, "src1", "d e f", 0), (12, "src0", "g h i", 1)]
    expect("doc landed twice", c.check_landed_once(landed), c.check_landed_once(landed + [landed[0]]))
    assert c.landed_twice(landed + [landed[0]]) == [10]
    arrivals = {0: {10: ("src0", "a b c"), 11: ("src1", "d e f")}, 1: {12: ("src0", "g h i")}}
    by_round = {0: {10: ("src0", "a b c"), 11: ("src1", "d e f")}, 1: {12: ("src0", "g h i")}}
    wrong_round = {0: {10: ("src0", "a b c"), 12: ("src0", "g h i")}, 1: {11: ("src1", "d e f")}}
    expect("doc landed in a round it did not arrive in", c.check_landed_arrived(by_round, arrivals),
           c.check_landed_arrived(wrong_round, arrivals))
    expect("landed text equals a corpus text", c.check_not_in_corpus([(10, "a b c")], {"x y z"}),
           c.check_not_in_corpus([(10, "a b c")], {"x y z", "a b c"}))
    assert c.not_arrived(wrong_round[0], arrivals[0]) == [12]
    assert c.in_corpus([(10, "a b c"), (11, "d e f")], {"a b c"}) == [10]
    expect("source over its cap", c.check_cap(["src0", "src0", "src1"], 2),
           c.check_cap(["src0", "src0", "src0", "src1"], 2))
    audit = {"n_arrivals": 5, "n_batch_exact": 1, "n_corpus_exact": 1, "n_corpus_near": 0,
             "n_batch_near": 0, "n_appended": 3}
    lost = dict(audit, n_appended=2)
    expect("fold audit loses an arrival", c.check_fold_audit(audit, 5, 3), c.check_fold_audit(lost, 5, 2))
    expect("fold appends other rows than it says", c.check_fold_audit(audit, 5, 3),
           c.check_fold_audit(audit, 5, 4))
    batch = {0: {"src0": {1, 2, 3}, "src1": {4}}, 1: {"src1": {5}}}
    stream = {0: {"src0": {1, 2}, "src1": {4}}, 1: {"src1": {5}}}
    extra = {0: {"src0": {1, 2}, "src1": {4, 6}}, 1: {"src1": {5}}}
    expect("stream keeps a doc the batch gates drop", c.check_stream_vs_batch(stream, batch, 2),
           c.check_stream_vs_batch(extra, batch, 2))

    # corpus_build ---------------------------------------------------------
    expected = {"en": 3, "de": 1}
    expect("shard row dropped", c.check_shard_rows({"en": 3, "de": 1}, expected, {"en": 3, "de": 1}),
           c.check_shard_rows({"en": 2, "de": 1}, expected, {"en": 3, "de": 1}))
    rows = [(1, "f0"), (2, "f0"), (3, "f1"), (4, "f2")]
    expect("doc in two shards", c.check_one_shard(rows), c.check_one_shard(rows + [(2, "f1")]))
    pairs = c.pairs_over_bar(__import__("duckdb").connect(), [
        (1, "a b c d e f g"), (2, "a b c d e f"), (3, "p q r s t u")])
    assert pairs == {(1, 2)}, pairs
    expect("exported candidate near-dup pair", c.check_near_dups(set(), {(1, 2)})[0],
           c.check_near_dups(pairs, {(1, 2)})[0])
    rng = np.random.default_rng(0)
    vecs = rng.standard_normal((4, 8)).astype(np.float32)
    vecs[3] = vecs[0]
    vecs[3, 0] = np.float32(np.float64(vecs[0, 0]) * 1.01)
    ids = np.array([0, 1, 2, 1000000])
    cells = np.array([0, 1, 1, 0])
    kept = np.array([1, 1, 1, 0])
    expect("near-duplicate vector kept", c.check_semdedup(ids, cells, kept, vecs),
           c.check_semdedup(ids, cells, np.array([1, 1, 1, 1]), vecs))
    expect("distinct vector dropped", c.check_semdedup(ids, cells, kept, vecs),
           c.check_semdedup(ids, cells, np.array([1, 0, 1, 0]), vecs))

    if failures:
        print("\n".join(failures))
        sys.exit(1)
    print("all checks catch their planted faults")


if __name__ == "__main__":
    main()
