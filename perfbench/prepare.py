"""Input and expected-answer generation for one benchmark run.

Runs in its own process, before the engine starts, so neither the data
generator nor the brute-force oracle is inside the timed region or the
engine process whose memory is reported.

    python perfbench/prepare.py --workload W --seed N --turns T --out DIR

Writes into DIR:
  corpus.parquet      the seeded transcripts the set-up indexes
  warmup.parquet      its first WARMUP_TURNS turns, indexed once to warm
                      the JVM before the set-ups are timed
  plan.json           request stream, warm-up requests, expected answers
                      for the checked sample, text byte counts, timings
"""

from __future__ import annotations

import argparse
import collections
import json
import os
import re
import sys
import time

import numpy as np

#: top-k of every request
K = 20
#: requests in one stream; the timed loop cycles through it
STREAM_LEN = 4000
WARMUP_LEN = 1
WARMUP_TURNS = 2000
#: distinct requests per run checked against the oracle
CHECKED = {"serp_phrase": 16, "serp_dist": 8}
#: phrase words come from this many most frequent words, so posting
#: lists are long and the phrase kernel, not the dictionary, dominates
PHRASE_TOP = 300
#: seed of the frequency ranks the request stream draws. Requests are
#: drawn as ranks and take the seeded corpus's words at those ranks, so
#: every run's stream has the same cost mix: drawn per seed, the mix of
#: a few hundred requests moved the median latency by about 10% from
#: seed to seed, as much as the host did
STREAM_SEED = 20_240_601

_WORD = re.compile(r"^[a-z]+$")


def _write_parquet(pdf, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    # Spark reads only microsecond timestamps
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path,
                   coerce_timestamps="us", allow_truncated_timestamps=True)


def ranked_terms(texts) -> list[str]:
    """Plain lowercase words of the corpus, most frequent first."""
    counts = collections.Counter()
    for t in texts:
        counts.update(w for w in t.split() if _WORD.match(w))
    return [w for w, _ in counts.most_common()]


def _zipf_pick(rng, terms: list[str], n: int, top: int) -> list[str]:
    """n distinct terms, rank r drawn with weight 1/r from the top ranks."""
    pool = terms[:top]
    w = 1.0 / np.arange(1, len(pool) + 1)
    idx = rng.choice(len(pool), size=min(n, len(pool)), replace=False,
                     p=w / w.sum())
    return [pool[i] for i in idx]


def term_query(rng, terms: list[str], top: int) -> str:
    """1-3 Zipf-skewed terms."""
    n = int(rng.choice([1, 2, 3], p=[0.4, 0.35, 0.25]))
    return " ".join(_zipf_pick(rng, terms, n, top))


def phrase_query(rng, terms: list[str]) -> str:
    """2-3 distinct words drawn Zipf-skewed from the PHRASE_TOP most
    frequent, as a phrase; a quarter use slop ~1, a fifth add a plain
    term. The corpus's words are i.i.d. Zipf draws, so most such
    phrases occur in the text."""
    n = int(rng.choice([2, 3]))
    q = '"' + " ".join(_zipf_pick(rng, terms, n, PHRASE_TOP)) + '"'
    r = rng.random()
    if r < 0.25:
        q += "~1"
    elif r < 0.45:
        q += " " + _zipf_pick(rng, terms, 1, 2000)[0]
    return q


def make_query(workload: str, rng, terms: list[str]) -> str:
    if workload == "serp_phrase":
        return phrase_query(rng, terms)
    if workload == "serp_dist":
        # hot and multi-term queries: what fans out at corpus scale
        return term_query(rng, terms, top=200)
    raise ValueError(f"unknown workload {workload!r}")


def expected_answers(pdf, queries: list[str]) -> dict:
    """Oracle top-k ids, scores and exact count per query. Doc ids are
    the rank of (conv_id, turn_idx), as the engine assigns them."""
    from cuely_spark.oracle import OracleIndex

    order = pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    oracle = OracleIndex(np.arange(len(order), dtype=np.int64),
                         order["text"].tolist())
    out = {}
    for q in queries:
        ids, scores = oracle.search(q, k=K)
        out[q] = {"ids": ids.tolist(), "scores": scores.tolist(),
                  "count": oracle.count(q)}
    return out


def prepare(workload: str, seed: int, turns: int, out: str) -> dict:
    from cuely_spark.datagen import generate_transcripts

    t0 = time.perf_counter()
    pdf = generate_transcripts(turns, seed=seed)
    _write_parquet(pdf, os.path.join(out, "corpus.parquet"))
    _write_parquet(pdf.head(WARMUP_TURNS),
                   os.path.join(out, "warmup.parquet"))
    texts = pdf["text"].tolist()
    plan = {"turns": len(pdf),
            "text_bytes": int(sum(len(t.encode()) for t in texts))}
    # the seed makes the corpus; the stream's frequency ranks are the
    # same for every seed (see STREAM_SEED)
    rng = np.random.default_rng(STREAM_SEED)
    terms = ranked_terms(texts)
    stream = [make_query(workload, rng, terms)
              for _ in range(STREAM_LEN + WARMUP_LEN)]
    stream, warm = stream[:STREAM_LEN], stream[STREAM_LEN:]
    plan["datagen_s"] = time.perf_counter() - t0
    t1 = time.perf_counter()
    checked = list(dict.fromkeys(stream))[:CHECKED[workload]]
    plan["expected"] = expected_answers(pdf, checked)
    plan["oracle_s"] = time.perf_counter() - t1
    plan["stream"] = stream
    plan["warmup"] = warm
    return plan


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--turns", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args(argv)
    sys.path.insert(0, os.getcwd())
    plan = prepare(a.workload, a.seed, a.turns, a.out)
    with open(os.path.join(a.out, "plan.json"), "w") as f:
        json.dump(plan, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
