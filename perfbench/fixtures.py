"""Seeded benchmark inputs, generated with NumPy/PyArrow only.

Every generator is a pure function of its seed, so one seed always gives
the same files. The benchmark owns these generators instead of calling
``featureengineer_spark.data``: a change to the program's own synthetic
data must not move the benchmark's inputs.

Files are written once per (workload, seed) under the fixture directory;
a ``.done`` marker makes re-use safe after an interrupted write.
"""

from __future__ import annotations

import bisect
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

BASE_TS_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
IDLE_TIMEOUT_S = 1800.0
ROLES = np.array(["user", "assistant", "system", "tool"])
ROLE_P = np.array([0.45, 0.45, 0.05, 0.05])
TOOLS = np.array(["bash", "search", "read", "edit"])
TURN_WORDS = np.array(
    "the a spark window merge join sort agg batch stream table scan filter "
    "row column vector hash key value query part order data slow fast big "
    "small group line dup".split()
)
STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")

TRANSCRIPT_SCHEMA = pa.schema(
    [
        pa.field("conv_id", pa.string(), nullable=False),
        pa.field("turn_idx", pa.int32(), nullable=False),
        pa.field("role", pa.string(), nullable=False),
        pa.field("text", pa.string()),
        pa.field("tool", pa.string()),
        pa.field("ts", pa.timestamp("us", tz="UTC"), nullable=False),
    ]
)


def ready(path: str) -> bool:
    return os.path.exists(os.path.join(path, ".done"))


def mark_ready(path: str) -> None:
    with open(os.path.join(path, ".done"), "w"):
        pass


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


# --------------------------------------------------------------- transcripts


def transcripts(seed: int, n_convs: int, mega: int, mega_len: int) -> pa.Table:
    """Turn table ``(conv_id, turn_idx, role, text, tool, ts)``.

    Conversation lengths follow a Pareto law clipped to [5, 2000] plus
    ``mega`` conversations of ``mega_len`` turns (the skew a per-entity
    operator must survive). The lengths are the law's evenly spaced
    quantiles in seeded order, so every seed gives the same number of
    turns. Gaps are 1-120 s with 2% idle gaps past the session timeout;
    ``tool`` is ~10% non-null."""
    rng = np.random.default_rng([seed, 1])
    n = n_convs - mega
    u = (np.arange(n) + 0.5) / n
    pareto = np.clip((1.0 - u) ** (-1.0 / 1.5) * 8.0, 5, 2000).astype(np.int64)
    lengths = np.concatenate([np.full(mega, mega_len, dtype=np.int64), rng.permutation(pareto)])
    total = int(lengths.sum())
    conv = np.repeat(np.arange(n_convs), lengths)
    starts = np.concatenate(([0], np.cumsum(lengths)[:-1]))
    turn_idx = (np.arange(total) - np.repeat(starts, lengths)).astype(np.int32)

    gaps = rng.uniform(1.0, 120.0, total)
    idle = rng.random(total) < 0.02
    gaps[idle] = IDLE_TIMEOUT_S * rng.uniform(1.1, 3.0, int(idle.sum()))
    gaps[turn_idx == 0] = 0.0
    gap_us = np.floor(gaps * 1000.0).astype(np.int64) * 1000
    cum = np.cumsum(gap_us)
    conv_base = cum[starts] - gap_us[starts]
    start_us = rng.integers(0, 3600, n_convs).astype(np.int64) * 1_000_000
    ts = BASE_TS_US + np.repeat(start_us - conv_base, lengths) + cum

    n_words = rng.integers(0, 40, total)
    word_ids = rng.integers(0, len(TURN_WORDS), int(n_words.sum()))
    words = TURN_WORDS[word_ids].tolist()
    bounds = np.concatenate(([0], np.cumsum(n_words))).tolist()
    text = [" ".join(words[bounds[i] : bounds[i + 1]]) for i in range(total)]
    tool = np.where(rng.random(total) < 0.10, rng.choice(TOOLS, total), None)

    conv_names = np.char.add("conv_", np.arange(n_convs).astype(str))
    return pa.table(
        {
            "conv_id": pa.array(conv_names[conv]),
            "turn_idx": pa.array(turn_idx),
            "role": pa.array(rng.choice(ROLES, total, p=ROLE_P)),
            "text": pa.array(text),
            "tool": pa.array(tool, type=pa.string()),
            "ts": pa.array(ts, type=pa.timestamp("us", tz="UTC")),
        },
        schema=TRANSCRIPT_SCHEMA,
    )


def write_bucketed(table: pa.Table, path: str, buckets: int) -> None:
    """One parquet file per conversation bucket, each sorted by
    ``(conv_id, ts, turn_idx)`` — the clustered layout that
    ``read_clustered`` + ``featurize_fast(clustered=True)`` require."""
    fresh_dir(path)
    conv_num = np.char.lstrip(
        table.column("conv_id").to_numpy(zero_copy_only=False).astype(str), "conv_"
    ).astype(np.int64)
    bucket = conv_num % buckets
    for b in range(buckets):
        part = table.filter(pa.array(bucket == b))
        part = part.sort_by([("conv_id", "ascending"), ("ts", "ascending"), ("turn_idx", "ascending")])
        pq.write_table(part, os.path.join(path, f"part-{b:05d}.parquet"))


def anchors(seed: int, table: pa.Table) -> pa.Table:
    """As-of probes ``(conv_id, anchor_ts)``: ~10% of turns (half exactly
    at the turn, half up to 30 s after it) plus, per conversation, one
    anchor before its first turn and one after its last."""
    rng = np.random.default_rng([seed, 2])
    conv = table.column("conv_id").to_numpy(zero_copy_only=False).astype(object)
    ts = table.column("ts").cast(pa.int64()).to_numpy()
    pick = rng.random(len(ts)) < 0.10
    offs = np.where(rng.random(len(ts)) < 0.5, 0, rng.integers(0, 30_000_000, len(ts)))
    first = np.r_[True, conv[1:] != conv[:-1]]
    last = np.r_[conv[1:] != conv[:-1], True]
    a_conv = np.concatenate([conv[pick], conv[first], conv[last]])
    a_ts = np.concatenate([ts[pick] + offs[pick], ts[first] - 1_000_000, ts[last] + 60_000_000])
    # one anchor per (conversation, time): the checks key results on it
    a = pd.DataFrame({"conv_id": a_conv, "anchor_ts": a_ts}).drop_duplicates()
    return pa.table(
        {
            "conv_id": pa.array(a["conv_id"].tolist(), type=pa.string()),
            "anchor_ts": pa.array(a["anchor_ts"].to_numpy(), type=pa.timestamp("us", tz="UTC")),
        }
    )


# ----------------------------------------------------------- stream documents


def _vocab(rng: np.random.Generator, size: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    out: set[str] = set()
    while len(out) < size:
        n = int(rng.integers(3, 10))
        out.add("".join(rng.choice(letters, n)))
    return np.array(sorted(out - set(STOPWORDS)))


def _random_words(rng, vocab, n):
    words = vocab[rng.integers(0, len(vocab), n)]
    stop = rng.random(n) < 0.08
    words[stop] = np.array(STOPWORDS)[rng.integers(0, len(STOPWORDS), int(stop.sum()))]
    return words.tolist()


def stream_docs(
    seed: int, n_history: int, n_files: int, per_file: int, max_lag_s: int
) -> tuple[pa.Table, list[pa.Table]]:
    """History backlog and timed stream files ``(doc_id, text, ts)``.

    Event time never regresses: every file's timestamps lie after the
    previous file's (and after the history). 15% of each file's rows are
    near-dups or exact copies of an earlier document whose event time is
    at most ``max_lag_s`` earlier."""
    rng = np.random.default_rng([seed, 5])
    vocab = _vocab(rng, 4000)
    words: list[list[str]] = []
    ts: list[int] = []
    t = BASE_TS_US

    def new_doc():
        return _random_words(rng, vocab, int(rng.integers(50, 150)))

    def rows(n: int, allow_dups: bool):
        nonlocal t
        out_ids = []
        for _ in range(n):
            t += int(rng.integers(1, 1_000_000))
            lo = bisect.bisect_left(ts, t - max_lag_s * 1_000_000)
            if allow_dups and lo < len(ts) and rng.random() < 0.15:
                src = list(words[int(rng.integers(lo, len(ts)))])
                if rng.random() < 0.5:
                    src[-1] = str(vocab[rng.integers(0, len(vocab))])
                w = src
            else:
                w = new_doc()
            out_ids.append(len(words))
            words.append(w)
            ts.append(t)
        return out_ids

    hist = rows(n_history, allow_dups=True)
    files = [rows(per_file, allow_dups=True) for _ in range(n_files)]

    def table(idx):
        return pa.table(
            {
                "doc_id": pa.array(np.asarray(idx, dtype=np.int64)),
                "text": pa.array([" ".join(words[i]) for i in idx]),
                "ts": pa.array([ts[i] for i in idx], type=pa.timestamp("us", tz="UTC")),
            }
        )

    return table(hist), [table(f) for f in files]
