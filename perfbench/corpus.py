"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its arguments: the same seed gives
byte-identical rows (``digest`` checks that), so a workload's inputs are
fixed by ``--seed`` alone and the program under test receives only the
files written here.

* ``agent_corpus`` — agent-style transcripts for ``agent-sparse`` and
  ``agent-stream``: long tool-output, code, log and chat turns drawn from a
  vocabulary with no gazetteer first-word, about one turn in ten taken from
  ``kgpipe.fixtures.synthetic_transcripts`` (the hit-dense clinical
  fixture), and one hot conversation holding ``HOT_CONV_SHARE`` of the
  turns.
* ``driver_tables`` — ``events`` and ``documents`` tables with the schema and
  value distributions of the driver's sf tables, which
  ``kgpipe.fixtures.derive_transcripts`` turns into the ``clinical-dense``
  corpus (every turn carries planted dates, nearly every turn a gazetteer
  term).
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

TRANSCRIPT_ARROW_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        # UTC-adjusted, so Spark reads it as TimestampType (the schema
        # kgpipe expects), not TIMESTAMP_NTZ
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)

# Share of turns taken from the clinical fixture, and the documented band
# the measured hit-turn fraction of the agent corpus must fall in
# (clinical turns hit ~91 % of the time; agent turns never do).
CLINICAL_SHARE = 0.10
AGENT_HIT_BAND = (0.05, 0.15)
HOT_CONV_SHARE = 0.10

# Agent-turn vocabulary. No word here opens a gazetteer term of the builtin
# dictionary (``spark``, ``table``, ``window``, ``vector``, ``sort``,
# ``hash``, ``batch`` and the clinical terms are left out on purpose), so an
# agent turn yields no entity mention.
_CHAT_WORDS = (
    "please check the config and rerun it with verbose output so we can see "
    "where it fails i think the issue is in how the loader handles empty "
    "rows could you also update docs about this change and add a note to "
    "release plan thanks that looks right now let me know when done we "
    "should keep old behaviour behind flag until next version ship"
).split()
_CODE_IDENTS = (
    "result items value count index buffer parser reader writer config "
    "logger handler request response payload session client server cursor "
    "offset limit record field schema column_name row_id worker queue task"
).split()
_LOG_LEVELS = ("INFO", "DEBUG", "WARN", "ERROR")
_LOG_MSGS = (
    "request served in {n} ms", "retrying upload attempt {n}",
    "cache miss for key user-{n}", "worker-{n} heartbeat ok",
    "flushed {n} records to sink", "connection reset by peer",
    "gc pause {n} ms", "scheduled job {n} queued",
)
_TOOLS = ("shell", "python", "http", "grep", "editor")


def _chat(rng: random.Random) -> str:
    return " ".join(rng.choices(_CHAT_WORDS, k=rng.randint(20, 120))) + " ."


def _code(rng: random.Random) -> str:
    lines = []
    for _ in range(rng.randint(8, 40)):
        a, b, c = rng.choices(_CODE_IDENTS, k=3)
        shape = rng.randrange(4)
        if shape == 0:
            lines.append(f"    {a} = {b}.get('{c}', {rng.randint(0, 99)})")
        elif shape == 1:
            lines.append(f"    for {a} in {b}:")
            lines.append(f"        {c}.append({a} * {rng.randint(2, 9)})")
        elif shape == 2:
            lines.append(f"def {a}_{b}({c}, *args):")
        else:
            lines.append(f"    if {a} is None: raise ValueError('{b} {c}')")
    return "\n".join(lines)


def _log(rng: random.Random, ts: dt.datetime) -> str:
    lines = []
    t = ts
    for _ in range(rng.randint(5, 30)):
        t += dt.timedelta(milliseconds=rng.randint(1, 900000))
        msg = _LOG_MSGS[rng.randrange(len(_LOG_MSGS))].format(n=rng.randint(1, 999))
        lines.append(
            f"[{t:%Y-%m-%d %H:%M:%S}] {_LOG_LEVELS[rng.randrange(4)]} {msg}"
        )
    return "\n".join(lines)


def _tool_output(rng: random.Random) -> str:
    recs = []
    for _ in range(rng.randint(5, 25)):
        a, b = rng.choices(_CODE_IDENTS, k=2)
        recs.append(
            f'{{"{a}": {rng.randint(0, 10**6)}, "{b}": "{rng.getrandbits(48):012x}"}}'
        )
    return "[" + ",\n ".join(recs) + "]"


def agent_corpus(n_turns: int, seed: int) -> pa.Table:
    """``n_turns`` agent-style transcript rows for ``seed``.

    Conversation ``a0000`` is the hot one; the rest share the remaining
    turns in conversations of 20-80 turns.
    """
    from kgpipe.fixtures import synthetic_transcripts

    rng = random.Random(seed)
    n_clin = max(1, int(n_turns * CLINICAL_SHARE))
    clinical = synthetic_transcripts(
        n_conv=max(2, n_clin // 10), turns_per_conv=10, seed=seed,
        hot_conv_factor=1,
    )
    clin_texts = clinical["text"].tolist()
    hot = int(n_turns * HOT_CONV_SHARE)
    sizes = [hot]
    left = n_turns - hot
    while left > 0:
        sizes.append(min(left, rng.randint(20, 80)))
        left -= sizes[-1]
    cols = {k: [] for k in TRANSCRIPT_ARROW_SCHEMA.names}
    base = dt.datetime(2024, 1, 1)
    for c, size in enumerate(sizes):
        conv_id = f"a{c:04d}"
        ts = base + dt.timedelta(minutes=rng.randint(0, 60 * 24 * 200))
        for i in range(size):
            ts += dt.timedelta(seconds=rng.randint(5, 600))
            tool = None
            if rng.random() < CLINICAL_SHARE:
                role, text = rng.choice(("user", "assistant")), rng.choice(clin_texts)
            else:
                kind = rng.randrange(4)
                if kind == 0:
                    role, text = rng.choice(("user", "assistant")), _chat(rng)
                elif kind == 1:
                    role, text = "assistant", _code(rng)
                elif kind == 2:
                    role, tool, text = "tool", "shell", _log(rng, ts)
                else:
                    role, tool, text = "tool", rng.choice(_TOOLS), _tool_output(rng)
            cols["conv_id"].append(conv_id)
            cols["turn_idx"].append(i)
            cols["role"].append(role)
            cols["text"].append(text)
            cols["tool"].append(tool)
            cols["ts"].append(ts)
    return pa.table(cols, schema=TRANSCRIPT_ARROW_SCHEMA)


_DOC_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_EVENT_TYPES = ("signup", "purchase", "view", "click", "error")


def driver_tables(n_events: int, seed: int) -> tuple[pa.Table, pa.Table]:
    """(events, documents) shaped like the driver's sf tables: ``n_events``
    events over ``n_events // 66`` users in January 2024, and 5000 documents
    of 8-100 words over the driver corpus vocabulary (only doc_id < 500 is
    joined by the derivation)."""
    rng = random.Random(seed)
    n_users = max(1, n_events // 66)
    start = dt.datetime(2024, 1, 1)
    span_us = 30 * 24 * 3600 * 10**6
    offsets = sorted(rng.randrange(span_us) for _ in range(n_events))
    events = pa.table(
        {
            "event_id": pa.array(range(n_events), pa.int64()),
            "ts": pa.array(
                [start + dt.timedelta(microseconds=o) for o in offsets],
                pa.timestamp("us"),
            ),
            "user_id": pa.array(
                [rng.randrange(n_users) for _ in range(n_events)], pa.int64()
            ),
            "event_type": [rng.choice(_EVENT_TYPES) for _ in range(n_events)],
            "value": [round(rng.uniform(0, 200), 2) for _ in range(n_events)],
            "props": [f'{{"k": {rng.randrange(100)}}}' for _ in range(n_events)],
        }
    )
    texts = [" ".join(rng.choices(_DOC_VOCAB, k=rng.randint(8, 100))) for _ in range(5000)]
    documents = pa.table(
        {
            "doc_id": pa.array(range(5000), pa.int64()),
            "text": texts,
            "lang": [rng.choice(("en", "en", "de", "fr", "es", "zh")) for _ in texts],
            "source": [f"src{i % 5}" for i in range(5000)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    return events, documents


def write_parquet_files(table: pa.Table, out_dir: str, n_files: int, seed: int) -> None:
    """Write ``table`` as ``n_files`` parquet files under ``out_dir``.
    Rows are dealt to files by a seeded permutation, so every file holds a
    spread of conversations (the hot one included) and no split is a
    conversation-ordered slab."""
    os.makedirs(out_dir, exist_ok=True)
    order = list(range(table.num_rows))
    random.Random(seed ^ 0x5EED).shuffle(order)
    for k in range(n_files):
        pq.write_table(table.take(sorted(order[k::n_files])),
                       os.path.join(out_dir, f"part-{k:05d}.parquet"))


def digest(table: pa.Table) -> str:
    """sha256 over the rows' canonical text form (order-sensitive)."""
    h = hashlib.sha256()
    for batch in table.to_batches(max_chunksize=4096):
        for col in batch.columns:
            for v in col.to_pylist():
                h.update(repr(v).encode())
                h.update(b"\x1f")
    return h.hexdigest()
