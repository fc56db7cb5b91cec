"""Seeded input tables for the benchmark, written as parquet.

Run as a subprocess of ``run.py`` so that generation never shares a
JVM or Python heap with the measured process:

    python3 perfbench/datagen.py --kind transcripts --seed 7 --convs 40000 \
        --files 4 --out .perfbench_cache/transcripts_c40000_f4_s7

Generation is numpy + pyarrow (no Spark): a fresh JVM plus the
generator's first codegen costs ~18 s per table on a 4-CPU host, more
than a whole timed run. The transcript rows follow
``hjsonschema_spark.sources.transcripts.TranscriptGen`` (same schema,
vocabularies, Zipf conversation lengths, role alternation, text-length
law and agent-trace prefixes) with bench.py's injection kinds and
rates. The same seed always gives the same files.

Kinds:
  transcripts  conversation-aligned part files of one transcript table
  sf           documents / events / lineitem tables in the layout the
               ``__spark_entry__`` queries read (``<dir>/<name>.parquet``)
"""

from __future__ import annotations

import argparse
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from hjsonschema_spark.sources.transcripts import _WORDS, TOOL_VOCAB

# bench.py's headline injection rates
INJECT_RATE = 0.001
BASE_TS_US = 1_767_225_600_000_000  # 2026-01-01 00:00:00 UTC
EVENT_TYPES = ("click", "view", "signup", "purchase")


def transcript_tables(seed: int, n_convs: int, n_files: int) -> list[pa.Table]:
    """One table per file; each file holds whole conversations."""
    rng = np.random.default_rng(seed)
    u = rng.random(n_convs) + 1e-12
    n_turns = np.clip(np.ceil(u ** (-1.0 / 1.2)), 1, 500).astype(np.int64)
    conv = np.repeat(np.arange(n_convs), n_turns)
    starts = np.cumsum(n_turns) - n_turns
    turn = np.arange(conv.size) - np.repeat(starts, n_turns)
    n = conv.size

    # roles: turn 0 system, odd user, even assistant or tool_use; an
    # odd turn right after an interior tool_use is its tool_result
    is_tool = (turn > 0) & (turn % 2 == 0) & (rng.random(n) < 0.15)
    role = np.where(turn % 2 == 1, "user", np.where(is_tool, "tool_use", "assistant")).astype(object)
    role[turn == 0] = "system"
    prev_tool = np.zeros(n, dtype=bool)
    prev_tool[1:] = is_tool[:-1] & (turn[1:] > 1)
    role[prev_tool & (turn % 2 == 1)] = "tool_result"

    z = (rng.random(n) + rng.random(n) + rng.random(n) - 1.5) * 2.0
    n_words = np.clip(np.ceil(np.exp(2.2 + z)), 1, 600).astype(np.int64)
    words = np.array(_WORDS, dtype=object)[rng.integers(0, len(_WORDS), int(n_words.sum()))]
    offsets = np.concatenate([[0], np.cumsum(n_words)]).astype(np.int64)
    body = pc.binary_join(pa.ListArray.from_arrays(pa.array(offsets), pa.array(words, pa.string())), " ")
    pu = rng.random(n)
    prefix = np.select(
        [pu < 0.033, pu < 0.066, pu < 0.10], ["Thought: ", "Action: ", "Observation: "], ""
    )
    text = pc.binary_join_element_wise(pa.array(prefix, pa.string()), body, "")

    tool = np.array(TOOL_VOCAB, dtype=object)[rng.integers(0, len(TOOL_VOCAB), n)]
    tool[role != "tool_use"] = None
    conv_off = rng.integers(0, 86400 * 30, n_convs)
    ts = BASE_TS_US + (np.repeat(conv_off, n_turns) + turn * 60 + rng.integers(0, 60, n)) * 1_000_000

    # violation injection, one independent channel per kind
    role[rng.random(n) < INJECT_RATE] = "robot"
    ts = np.where((turn > 0) & (rng.random(n) < INJECT_RATE), ts - 48 * 3600 * 1_000_000, ts)
    keep = ~((turn > 0) & (rng.random(n) < INJECT_RATE))  # contiguity gaps
    dup = rng.random(n) < INJECT_RATE

    table = pa.table(
        {
            "conv_id": pa.array(np.char.mod("c%08d", conv), pa.string()),
            "turn_idx": pa.array(turn, pa.int32()),
            "role": pa.array(role, pa.string()),
            "text": text,
            "tool": pa.array(tool, pa.string()),
            "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        }
    )
    # duplicates sit right after their original so they stay in its file
    rows = np.repeat(np.arange(n), 1 + dup.astype(np.int64))
    rows = rows[keep[rows]]
    table = table.take(pa.array(rows))
    conv_of_row = conv[rows]
    bounds = np.searchsorted(conv_of_row, np.linspace(0, n_convs, n_files + 1).astype(np.int64))
    return [table.slice(a, b - a) for a, b in zip(bounds[:-1], bounds[1:])]


def write_transcripts(out: str, seed: int, n_convs: int, n_files: int) -> None:
    os.makedirs(out)
    for i, t in enumerate(transcript_tables(seed, n_convs, n_files)):
        pq.write_table(t, os.path.join(out, f"part-{i:05d}.parquet"))


def sf_tables(seed: int, n_docs: int, n_events: int, n_orders: int) -> dict[str, pa.Table]:
    """documents / events / lineitem shaped like the sf testdata tables.

    One document in twenty is a copy of an earlier original (30 to 70
    words) with one word replaced, 3-shingle Jaccard 0.8 or more; other
    pairs share almost no shingles. Every pair is far from the 0.2
    MinHash threshold, so the production and md5 hash families find the
    same pair set."""
    rng = np.random.default_rng(seed)
    vocab = np.array(
        "a the row key part data line scan sort hash join agg group order filter value "
        "table spark query fast slow big small batch merge window stream vector column "
        "customer".split(),
        dtype=object,
    )
    docs, originals = [], []
    for i in range(n_docs):
        if originals and rng.random() < 0.05:
            copy = list(docs[originals[int(rng.integers(0, len(originals)))]])
            copy[int(rng.integers(0, len(copy)))] = vocab[rng.integers(0, len(vocab))]
            docs.append(copy)
        else:
            originals.append(i)
            docs.append(list(vocab[rng.integers(0, len(vocab), int(rng.integers(30, 70)))]))
    text = [" ".join(d) for d in docs]
    documents = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": pa.array(text, pa.string()),
            "lang": pa.array(np.array(["en", "de", "fr", "es", "zh"])[rng.integers(0, 5, n_docs)]),
            "source": pa.array(np.char.mod("src%d", rng.integers(0, 8, n_docs))),
            "n_chars": pa.array([len(t) for t in text], pa.int64()),
        }
    )

    etype = np.array(EVENT_TYPES + ("error",))[
        np.searchsorted([0.3, 0.6, 0.75, 0.98], rng.random(n_events), side="right")
    ]
    events = pa.table(
        {
            "event_id": pa.array(np.arange(n_events), pa.int64()),
            "ts": pa.array(
                BASE_TS_US + np.cumsum(rng.integers(0, 60_000_000, n_events)),
                pa.timestamp("us"),
            ),
            "user_id": pa.array(rng.integers(0, 2000, n_events), pa.int64()),
            "event_type": pa.array(etype, pa.string()),
            "value": pa.array(np.round(rng.lognormal(3.0, 1.0, n_events), 2), pa.float64()),
            "props": pa.array(np.char.mod('{"k": %d}', rng.integers(0, 100, n_events))),
        }
    )

    lines = rng.integers(1, 8, n_orders)
    okey = np.repeat(np.arange(1, n_orders + 1) * 4, lines)
    lstart = np.cumsum(lines) - lines
    lnum = np.arange(okey.size) - np.repeat(lstart, lines) + 1
    m = okey.size
    # flags mostly constant per order; a minority of orders mix them
    order_flag = rng.integers(0, 3, n_orders)
    flag = np.repeat(order_flag, lines)
    mixed = rng.random(m) < 0.1
    flag[mixed] = rng.integers(0, 3, int(mixed.sum()))
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(okey, pa.int64()),
            "l_linenumber": pa.array(lnum, pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, m).astype(np.float64)),
            "l_returnflag": pa.array(np.array(["R", "A", "N"])[flag]),
            "l_linestatus": pa.array(np.where(flag == 2, "O", "F")),
        }
    )
    return {"documents": documents, "events": events, "lineitem": lineitem}


def write_sf(out: str, seed: int, n_docs: int, n_events: int, n_orders: int) -> None:
    os.makedirs(out)
    for name, t in sf_tables(seed, n_docs, n_events, n_orders).items():
        pq.write_table(t, os.path.join(out, f"{name}.parquet"))


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--kind", choices=("transcripts", "sf"), required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--convs", type=int, default=0)
    p.add_argument("--files", type=int, default=1)
    p.add_argument("--docs", type=int, default=0)
    p.add_argument("--events", type=int, default=0)
    p.add_argument("--orders", type=int, default=0)
    a = p.parse_args()
    # write beside the target and rename, so a killed generator never
    # leaves a half-written table under the cache key
    tmp = a.out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    if a.kind == "transcripts":
        write_transcripts(tmp, a.seed, a.convs, a.files)
    else:
        write_sf(tmp, a.seed, a.docs, a.events, a.orders)
    os.rename(tmp, a.out)


if __name__ == "__main__":
    main()
