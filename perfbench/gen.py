"""Seeded, vectorized input generators with their own ground truth.

Every table is built from numpy draws plus fancy indexing into small
string pools, so generation cost is independent of Python's per-row
speed and the same seed always yields byte-identical inputs.

Ground truth is derived here from what the generator planted, never by
running the engine: the level word a row starts with, its role and its
tool decide which sinks it must land in.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa

BASE_TS = np.datetime64("2024-03-01T00:00:00", "us")
HOUR_US = 3_600_000_000

ROLES = np.array(["user", "assistant", "system", "tool"], dtype=object)
ROLE_P = np.array([0.35, 0.35, 0.1, 0.2])
TOOLS = np.array(["search", "exec", "browse", "calc", "render"], dtype=object)

# Level words the text may start with, and the canonical level each one
# must normalize to.  Written from the parser's published alias table;
# "NOTICE" is an unknown upper-case token, which normalizes to INFO.
LEVEL_WORDS = np.array(
    ["INFO", "DEBUG", "TRACE", "DBG", "WARN", "WARNING", "NOTICE",
     "ERROR", "ERR", "FATAL", "CRITICAL", "PANIC"],
    dtype=object,
)
LEVEL_P = np.array(
    [0.30, 0.12, 0.05, 0.03, 0.12, 0.06, 0.04, 0.12, 0.06, 0.04, 0.03, 0.03]
)
IS_ERROR_WORD = np.array([w in ("ERROR", "ERR", "FATAL", "CRITICAL", "PANIC")
                          for w in LEVEL_WORDS])
SERVICES = np.array(["api", "auth", "billing", "search", "gateway", "worker"],
                    dtype=object)
CODES = np.array([f" code=E{i:03d}" for i in range(1000)], dtype=object)
ARGS = np.array([f"(q{i})" for i in range(100)], dtype=object)
FILLER_WORDS = np.array(
    "request served cache miss retry upstream latency budget token stream "
    "chunk flushed queue depth shard replica commit rollback timeout socket "
    "handshake payload schema field parsed merged vector index".split(),
    dtype=object,
)


def _join(words, lens):
    """Concatenate consecutive runs of ``words`` (run i has ``lens[i]``
    words) into one space-separated string per run, without a per-row
    Python loop: prefix every non-first word with a space, then reduce
    each run."""
    starts = np.zeros(len(lens), dtype=np.int64)
    starts[1:] = np.cumsum(lens)[:-1]
    first = np.zeros(len(words), dtype=bool)
    first[starts] = True
    return np.add.reduceat(np.where(first, words, " " + words), starts)


def _join_words(rng, lens, vocab):
    """One string per run of ``lens[i]`` random words from ``vocab``."""
    return _join(vocab[rng.integers(0, len(vocab), int(lens.sum()))], lens)


def _filler_pool(rng, n_pool=2048):
    """Message tails with lognormal length (median ~60 chars, multi-KB
    tail); rows index into the pool."""
    n_words = np.clip(rng.lognormal(2.2, 1.4, n_pool), 1, 1500).astype(np.int64)
    return _join_words(rng, n_words, FILLER_WORDS)


def transcripts(seed: int, n_turns: int, n_convs: int, n_hours: int) -> pd.DataFrame:
    """A transcript table with uniform conversation keys spread evenly
    over ``n_hours`` hours.  ``turn_idx`` is dense per conversation and
    follows ``ts``; ``_hour`` (the hour index) and ``_errors`` (must
    land in the errors sink) are ground truth, not engine input."""
    rng = np.random.default_rng(seed)
    conv = rng.integers(0, n_convs, n_turns)
    hour = rng.choice(n_hours, size=n_turns, p=np.full(n_hours, 1 / n_hours))
    us = hour.astype(np.int64) * HOUR_US + rng.integers(0, HOUR_US, n_turns)
    # dense turn_idx in ts order within each conversation
    order = np.lexsort((us, conv))
    conv, hour, us = conv[order], hour[order], us[order]
    start = np.r_[0, np.flatnonzero(np.diff(conv)) + 1]
    run_len = np.diff(np.r_[start, n_turns])
    turn_idx = (np.arange(n_turns) - np.repeat(start, run_len)).astype(np.int32)

    role = ROLES[rng.choice(len(ROLES), size=n_turns, p=ROLE_P)]
    is_tool = role == "tool"
    tool_pick = TOOLS[rng.integers(0, len(TOOLS), n_turns)]
    tool = np.where(is_tool, tool_pick, None)
    # a few assistant turns carry an empty tool field (must not route)
    tool = np.where((role == "assistant") & (rng.random(n_turns) < 0.05), "", tool)

    lvl = rng.choice(len(LEVEL_WORDS), size=n_turns, p=LEVEL_P)
    garbled = rng.random(n_turns) < 0.1
    has_code = IS_ERROR_WORD[lvl] | (rng.random(n_turns) < 0.05)
    text = (
        LEVEL_WORDS[lvl]
        + " svc=" + SERVICES[rng.integers(0, len(SERVICES), n_turns)]
        + np.where(has_code, CODES[rng.integers(0, 1000, n_turns)], "")
        + np.where(is_tool, " call:" + tool_pick + ARGS[rng.integers(0, 100, n_turns)], "")
        + " " + _filler_pool(rng)[rng.integers(0, 2048, n_turns)]
    )
    # garbled lines start lower-case, so no level token is extracted
    text = np.where(garbled, "~~ garbled " + text, text)

    conv_id = np.char.add("conv_", np.char.zfill(conv.astype(str), 6))
    return pd.DataFrame({
        "conv_id": conv_id.astype(object),
        "turn_idx": turn_idx,
        "role": role,
        "text": text,
        "tool": tool,
        "ts": BASE_TS + us.astype("timedelta64[us]"),
        "_hour": hour.astype(np.int32),
        "_errors": IS_ERROR_WORD[lvl] & ~garbled,
    })


def expected_routes(df: pd.DataFrame) -> pd.DataFrame:
    """(sink, conv_id, turn_idx, hour) of every row each sink must hold."""
    masks = {
        "errors": df["_errors"].to_numpy(),
        "tool_calls": (df["tool"].notna() & (df["tool"] != "")).to_numpy(),
        "user_turns": (df["role"] == "user").to_numpy(),
    }
    parts = [
        pd.DataFrame({"sink": s, "conv_id": df["conv_id"][m],
                      "turn_idx": df["turn_idx"][m], "hour": df["_hour"][m]})
        for s, m in masks.items()
    ]
    return pd.concat(parts, ignore_index=True)


TRANSCRIPT_ARROW = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
    ("text", pa.string()), ("tool", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
])


def to_arrow(df: pd.DataFrame) -> pa.Table:
    """The engine-facing table: transcript columns only, ``ts`` as a
    UTC instant (Spark reads it back as TimestampType)."""
    cols = [c.name for c in TRANSCRIPT_ARROW]
    out = df[cols].copy()
    out["ts"] = out["ts"].dt.tz_localize("UTC")
    return pa.Table.from_pandas(out, schema=TRANSCRIPT_ARROW, preserve_index=False)


# ---------------------------------------------------------------------------
# Corpus for the curation funnel.
# ---------------------------------------------------------------------------
DOC_VOCAB = np.array(
    "a the spark stream batch table query scan join hash sort merge group agg "
    "filter window row column line part key value order customer data vector "
    "small big fast slow".split(),
    dtype=object,
)
LANGS = np.array(["en", "en", "de", "fr", "es", "zh"], dtype=object)


def corpus(seed: int, n_base: int, n_exact: int, n_near: int) -> pd.DataFrame:
    """Documents shaped like the registry's sf0.1 table (10-100 words
    from a 30-word vocabulary) plus planted duplicates:

    - ``n_exact`` verbatim copies of random base docs;
    - ``n_near`` near-duplicates of base docs with at least 80 words,
      whose LAST word is replaced.  Only the final shingle changes, so
      their Jaccard to the source is >= 77/79 = 0.97, well clear of the
      0.8 floor the LSH recall argument relies on, while unrelated docs
      share almost no 3-word shingles (Jaccard ~0.002).
    """
    rng = np.random.default_rng(seed)
    lens = rng.integers(10, 101, n_base)
    ends = np.cumsum(lens)
    words = rng.integers(0, len(DOC_VOCAB), int(ends[-1]))
    src_exact = rng.integers(0, n_base, n_exact)
    src_near = rng.choice(np.flatnonzero(lens >= 80), size=n_near, replace=False)
    # a near-dup is its source's words with the last one shifted to a
    # different vocabulary word
    near_lens = lens[src_near]
    last = np.cumsum(near_lens) - 1
    offset_in_doc = np.arange(int(near_lens.sum())) - np.repeat(last + 1 - near_lens, near_lens)
    near_words = words[np.repeat(ends[src_near] - near_lens, near_lens) + offset_in_doc]
    near_words[last] = (near_words[last] + rng.integers(1, len(DOC_VOCAB), n_near)) % len(DOC_VOCAB)
    text = _join(DOC_VOCAB[words], lens)
    all_text = np.concatenate([text, text[src_exact], _join(DOC_VOCAB[near_words], near_lens)])
    n = len(all_text)
    all_text = all_text[rng.permutation(n)]
    out = pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": all_text,
        "lang": LANGS[rng.integers(0, len(LANGS), n)],
        "source": np.char.add("src", (np.arange(n) % 20).astype(str)).astype(object),
    })
    out["n_chars"] = out["text"].str.len().astype(np.int64)
    return out
