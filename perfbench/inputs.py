"""Seeded workload inputs: corpus shape, query sets and the corpus
fingerprint guard.

Everything here is a pure function of the ``--seed`` argument. The
engine only ever sees the generated transcripts and query lists.
"""

from __future__ import annotations

import json
import os
import sys
from dataclasses import dataclass

import numpy as np

FINGERPRINTS = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "fingerprints.json")


@dataclass(frozen=True)
class Sizes:
    """Corpus and workload sizes. ``FULL`` is the benchmark proper;
    ``TINY`` exists for the self-tests' smoke runs."""

    base_turns: int      # turn budget of the base index
    delta_turns: int     # turn budget of the merge_index_delta batch
    gen_base: int        # conversations generated when only the base is used
    gen_all: int         # conversations generated for base + delta
    serve_pool: int      # seeded point queries available to one run
    serve_warmup: int    # point queries discarded before the window
    write_warmup: int    # read-your-writes queries discarded before the
                         # read window
    inv_reads: int       # queries of the compaction invariance check
    large_batch: int     # traced batch probe: large batch size
    small_batch: int     # traced batch probe: small batch size
    partitions: int      # local[N]


# datagen draws 2–40 turns per conversation (mean 21): the generated
# counts cover the conversations the budgets need for every pinned corpus
# seed (at most 317 for the base and 415 with the delta), and layout()
# raises rather than run short
FULL = Sizes(base_turns=6000, delta_turns=2000, gen_base=320, gen_all=420,
             serve_pool=500, serve_warmup=48, write_warmup=8, inv_reads=4,
             large_batch=300, small_batch=25, partitions=2)
TINY = Sizes(base_turns=800, delta_turns=200, gen_base=80, gen_all=120,
             serve_pool=60, serve_warmup=3, write_warmup=2, inv_reads=2,
             large_batch=30, small_batch=5, partitions=2)

K = 10                   # top-k of every query


def layout(turns: list[int], sizes: Sizes, n_parts: int) -> list[tuple[int, int]]:
    """Conversation-index ranges [lo, hi): the base, then (``n_parts`` = 2)
    the delta.

    Each part is the shortest run of whole conversations that reaches its
    turn budget, so every seed indexes (almost) the same number of turns.
    Fixed conversation counts would not: a 50-conversation batch varies
    by ±7% in turns, and build and merge walls are mostly fixed cost, so
    turns/s would follow the seed rather than the code."""
    budgets = [sizes.base_turns, sizes.delta_turns]
    parts, i = [], 0
    for budget in budgets[:n_parts]:
        lo, acc = i, 0
        while acc < budget:
            if i >= len(turns):
                raise ValueError("too few conversations generated for "
                                 "the turn budgets")
            acc += turns[i]
            i += 1
        parts.append((lo, i))
    return parts


def conv_id(i: int) -> str:
    return f"conv-{i:08d}"


def uniq_term(i: int) -> str:
    return f"uniq{i:08d}"


def part_sums(per_conv: dict[int, tuple[int, int]],
              parts: list[tuple[int, int]]) -> list[list[int]]:
    """[lo, hi, turns, text bytes] per part."""
    out = []
    for lo, hi in parts:
        t = sum(per_conv[i][0] for i in range(lo, hi))
        b = sum(per_conv[i][1] for i in range(lo, hi))
        out.append([lo, hi, t, b])
    return out


# ---------------------------------------------------------------------------
# Fingerprint: [lo, hi, turns, UTF-8 text bytes] of the base and of the
# delta batch. Computed once per corpus seed by generating the
# conversations on the driver, pinned in fingerprints.json, and compared
# at run time with the Spark-generated inputs — so a change to
# sparkrec/datagen.py cannot silently change what the benchmark measures.
# ---------------------------------------------------------------------------

PINNED_SEEDS = 100       # corpus seeds 0..99 are pinned


def corpus_seed(seed: int) -> int:
    """The datagen seed of a run's corpus. Every ``--seed`` maps onto a
    pinned corpus, so every run's inputs are checked against their own
    pinned fingerprint; the queries use the full ``--seed``."""
    return seed % PINNED_SEEDS


def _conv_py(seed: int, i: int) -> tuple[int, int]:
    from sparkrec.datagen import _conv_rows

    pdf = _conv_rows(i, seed)
    return len(pdf), sum(len(t.encode("utf-8")) for t in pdf["text"])


def fingerprint_py(seed: int, sizes: Sizes) -> list[list[int]]:
    """Driver-side fingerprint: ~6 ms of generation per conversation."""
    per_conv: dict[int, tuple[int, int]] = {}
    # each part overshoots its budget by less than one conversation (≤ 40)
    total = sizes.base_turns + sizes.delta_turns + 80
    acc = i = 0
    while acc < total:
        per_conv[i] = _conv_py(seed, i)
        acc += per_conv[i][0]
        i += 1
    turns = [per_conv[j][0] for j in range(i)]
    return part_sums(per_conv, layout(turns, sizes, 2))


def load_fingerprints() -> dict:
    with open(FINGERPRINTS) as f:
        return json.load(f)


def check_fingerprint(seed: int, sizes: Sizes, parts: list[list[int]]) -> str | None:
    """None when the inputs match the pinned table, else the reason.

    ``parts`` are the Spark-generated corpus' [lo, hi, turns, bytes] for
    the base and, if the run uses it, the delta, generated from
    ``corpus_seed(seed)``."""
    table = load_fingerprints()
    if table.get("sizes") != _sizes_key(sizes):
        return "fingerprint table was made for other sizes"
    cs = corpus_seed(seed)
    want = table["seeds"].get(str(cs))
    if want is None:
        return f"no pinned fingerprint for corpus seed {cs}"
    if parts != want[:len(parts)]:
        return (f"inputs {parts} differ from pinned {want[:len(parts)]} "
                f"for corpus seed {cs}")
    return None


def _sizes_key(sizes: Sizes) -> dict:
    return {"base_turns": sizes.base_turns, "delta_turns": sizes.delta_turns}


# ---------------------------------------------------------------------------
# Queries
# ---------------------------------------------------------------------------

def point_queries(seed: int, n: int, n_convs: int,
                  prefix: str = "q") -> list[tuple[str, str]]:
    """``n`` seeded queries with unique ids and pairwise-distinct term
    multisets: 1–4 Zipf-distributed vocabulary terms, and ~30% add one
    conversation-unique term. Distinctness matters twice: duplicate ids
    mis-score silently in the batch path, and duplicate texts would be
    served by the batch dedup fan-out instead of being scored."""
    from sparkrec.datagen import _ZIPF_P, VOCAB

    rng = np.random.default_rng([seed, 0x5E12E])
    seen: set[tuple[str, ...]] = set()
    out: list[tuple[str, str]] = []
    while len(out) < n:
        n_terms = int(rng.integers(1, 5))
        terms = [str(t) for t in VOCAB[rng.choice(len(VOCAB), size=n_terms,
                                                  p=_ZIPF_P)]]
        if rng.random() < 0.3:
            terms.append(uniq_term(int(rng.integers(0, n_convs))))
        key = tuple(sorted(terms))
        if key in seen:
            continue
        seen.add(key)
        out.append((f"{prefix}{len(out):05d}", " ".join(terms)))
    return out


def present_uniq_terms(texts_by_conv: dict[str, str], lo: int,
                       hi: int) -> list[str]:
    """Conversation-unique terms that actually occur in convs [lo, hi):
    datagen splices a conversation's unique term into each turn with
    probability 0.05, so some conversations never contain theirs."""
    out = []
    for i in range(lo, hi):
        text = texts_by_conv.get(conv_id(i), "")
        if uniq_term(i) in text.split():
            out.append(uniq_term(i))
    return out


def write_fingerprints(procs: int) -> None:
    """Regenerate fingerprints.json for every pinned corpus seed (FULL
    sizes)."""
    from multiprocessing import get_context

    with get_context("spawn").Pool(procs) as pool:
        rows = pool.starmap(fingerprint_py,
                            [(s, FULL) for s in range(PINNED_SEEDS)])
    table = {"sizes": _sizes_key(FULL),
             "seeds": {str(s): fp for s, fp in enumerate(rows)}}
    with open(FINGERPRINTS, "w") as f:
        json.dump(table, f, separators=(",", ":"))
        f.write("\n")


if __name__ == "__main__":
    # python3 perfbench/inputs.py <procs>  (from the repo root)
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    write_fingerprints(int(sys.argv[1]))
