"""Deterministic synthetic transcripts generator (FIXTURES.md §1, §3).

Schema is exactly BASELINE.json ``input_hint``::

    transcripts(conv_id string, turn_idx int, role string,
                text string, tool string, ts timestamp)

Properties exercised at any scale (seed=42 mirrors the reference's
``np.random.seed(42)`` at /root/reference/tests/conftest.py:16):

- Zipfian core vocabulary (~5k terms, s≈1.1) → hot-term skew is present
  even at unit-test scale, so the salted posting assembly is tested.
- Per-conversation topical terms → mid-frequency terms.
- Rare unique terms (one conversation each) → singleton posting lists.
- Mixed-case tokens, URLs, punctuation and multi-space runs → the clean
  pipeline (wikirec ``clean`` semantics) has real work to do.
- Generation is seeded *per conversation* (seed = base_seed ^ conv index),
  so it is order-independent and embarrassingly parallel: the same
  conversation content is produced whether generated on the driver, in a
  ``mapInPandas`` task, or in any partition order.

Rows are emitted in shuffled order within each chunk so nothing downstream
may rely on physical row order (the reference relies on list position —
data_utils.py:996-1005, model.py:372 — we must prove key-based identity).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

SEED = 42
VOCAB_SIZE = 5000
ZIPF_S = 1.1
ROLES = np.array(["user", "assistant", "system", "tool"])
ROLE_P = np.array([0.40, 0.40, 0.05, 0.15])
TOOLS = np.array([""] * 4 + [f"tool_{i}" for i in range(20)])
BASE_TS = np.datetime64("2025-01-01T00:00:00")

TRANSCRIPTS_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("tool", T.StringType(), False),
        T.StructField("ts", T.TimestampType(), False),
    ]
)

# module-level so every process derives the identical vocabulary
_VOCAB_RNG = np.random.default_rng(SEED)
_ranks = np.arange(1, VOCAB_SIZE + 1, dtype=np.float64)
_ZIPF_P = (_ranks**-ZIPF_S) / (_ranks**-ZIPF_S).sum()
VOCAB = np.array([f"term{i:04d}" for i in range(VOCAB_SIZE)])


def _conv_rows(conv_index: int, base_seed: int = SEED) -> pd.DataFrame:
    """All turns of one conversation, deterministically from its index."""
    mixed = (base_seed + conv_index * 0x9E3779B97F4A7C15) % (1 << 64)
    rng = np.random.default_rng(mixed)
    n_turns = int(rng.integers(2, 41))
    conv_id = f"conv-{conv_index:08d}"

    # per-conversation topical terms (mid-frequency across the corpus)
    topical = VOCAB[rng.integers(500, VOCAB_SIZE, size=8)]
    rare = f"uniq{conv_index:08d}"  # appears only in this conversation

    texts = []
    for t in range(n_turns):
        n_tok = int(rng.integers(5, 201))
        toks = list(VOCAB[rng.choice(VOCAB_SIZE, size=n_tok, p=_ZIPF_P)])
        # splice in topical terms (~10%) and noise
        n_top = max(1, n_tok // 10)
        pos = rng.integers(0, n_tok, size=n_top)
        for j, p in enumerate(pos):
            toks[int(p)] = str(topical[j % len(topical)])
        if rng.random() < 0.05:
            toks.append(rare)
        if rng.random() < 0.10:
            toks.insert(int(rng.integers(0, len(toks))), "http://example.com/x?q=1")
        if rng.random() < 0.20:  # mixed case — clean() must lowercase
            i = int(rng.integers(0, len(toks)))
            toks[i] = toks[i].capitalize()
        if rng.random() < 0.15:  # punctuation stuck to a token
            i = int(rng.integers(0, len(toks)))
            toks[i] = toks[i] + ","
        if rng.random() < 0.10:  # numeric token — dropped by clean()
            toks.append(str(int(rng.integers(0, 10000))))
        sep = "  " if rng.random() < 0.1 else " "  # multi-space runs
        texts.append(sep.join(toks))

    roles = ROLES[rng.choice(len(ROLES), size=n_turns, p=ROLE_P)]
    tools = np.where(
        roles == "tool", TOOLS[rng.integers(4, len(TOOLS), size=n_turns)], ""
    )
    ts = (
        BASE_TS
        + np.timedelta64(int(conv_index) * 60, "s")
        + np.arange(n_turns) * np.timedelta64(7, "s")
    )
    return pd.DataFrame(
        {
            "conv_id": conv_id,
            "turn_idx": np.arange(n_turns, dtype=np.int32),
            "role": roles,
            "text": texts,
            "tool": tools,
            "ts": ts,
        }
    )


def gen_transcripts_pdf(n_convs: int, base_seed: int = SEED) -> pd.DataFrame:
    """Driver-side generation (small scales: unit tests, oracle runs)."""
    parts = [_conv_rows(i, base_seed) for i in range(n_convs)]
    pdf = pd.concat(parts, ignore_index=True)
    # shuffle physical order — key-based identity only
    return pdf.sample(frac=1.0, random_state=base_seed).reset_index(drop=True)


def transcripts_df(
    spark: SparkSession, n_convs: int, base_seed: int = SEED,
    partitions: int | None = None, conv_start: int = 0,
) -> DataFrame:
    """Distributed generation: one task per range slice of conv indexes.

    ``mapInPandas`` over ``spark.range`` — the generator is seeded per
    conversation so the result is identical at any parallelism level
    (the scaling-efficiency bench depends on this). ``conv_start`` shifts
    the conv-index range: disjoint ranges yield disjoint conversation
    sets (streaming-ingest batches).
    """
    partitions = partitions or spark.sparkContext.defaultParallelism

    def gen(batches):
        for pdf in batches:
            frames = [_conv_rows(int(i), base_seed) for i in pdf["id"]]
            if frames:
                out = pd.concat(frames, ignore_index=True)
                yield out.sample(frac=1.0, random_state=base_seed).reset_index(drop=True)

    return (
        spark.range(conv_start, conv_start + n_convs, numPartitions=partitions)
        .mapInPandas(gen, schema=TRANSCRIPTS_SCHEMA)
    )


def write_transcripts(
    spark: SparkSession, path: str, n_convs: int, base_seed: int = SEED,
    partitions: int | None = None,
) -> None:
    transcripts_df(spark, n_convs, base_seed, partitions).write.mode(
        "overwrite"
    ).parquet(path)


# ---------------------------------------------------------------------------
# Query fixture set (FIXTURES.md §3): ~30 queries covering hot term, rare
# term, multi-term, miss path, tie-breaks, self-match.
# ---------------------------------------------------------------------------

def gen_queries(n_convs: int, base_seed: int = SEED) -> pd.DataFrame:
    rng = np.random.default_rng(base_seed + 1)
    rows = []
    qi = 0

    def add(text: str, k: int):
        nonlocal qi
        rows.append({"query_id": f"q-{qi:03d}", "query_text": text, "k": k})
        qi += 1

    # single hot terms (Zipf head)
    for i in range(5):
        add(str(VOCAB[i]), 10)
    # single mid/rare terms
    for i in rng.integers(500, VOCAB_SIZE, size=5):
        add(str(VOCAB[i]), 10)
    # conversation-unique rare terms
    for c in rng.integers(0, max(n_convs, 1), size=3):
        add(f"uniq{int(c):08d}", 5)
    # multi-term (hot+rare mixes)
    for _ in range(8):
        terms = VOCAB[rng.choice(VOCAB_SIZE, size=int(rng.integers(2, 6)), p=_ZIPF_P)]
        add(" ".join(terms), int(rng.choice([5, 10, 20])))
    # miss path: terms absent from the corpus (model.py:360-370 analogue)
    add("zzznotincorpus qqqmissing", 10)
    add("absentterm", 5)
    # mixed-case + punctuation — query passes through the SAME clean pipeline
    add(str(VOCAB[1]).capitalize() + ", " + str(VOCAB[7]), 10)
    # long query (near-document)
    long_terms = VOCAB[rng.choice(VOCAB_SIZE, size=60, p=_ZIPF_P)]
    add(" ".join(long_terms), 20)
    return pd.DataFrame(rows)


def gen_point_queries(
    n: int, base_seed: int = SEED, exclude=()
) -> list[tuple[str, str]]:
    """``n`` distinct seeded point queries of 1–3 Zipf-drawn terms, as
    (query_id, text); texts in ``exclude`` are skipped."""
    rng = np.random.default_rng(base_seed + 2)
    seen, out = set(exclude), []
    while len(out) < n:
        draw = rng.choice(VOCAB_SIZE, size=int(rng.integers(1, 4)), p=_ZIPF_P)
        text = " ".join(sorted(set(VOCAB[draw])))
        if text not in seen:
            seen.add(text)
            out.append((f"p-{len(out):03d}", text))
    return out
