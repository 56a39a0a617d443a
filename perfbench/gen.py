"""Seeded input generator for the ingest benchmark.

Produces the transcript shape the flagship and the example pipelines read
(``conv_id, turn_idx, role, text, tool, ts`` plus a ``ua`` column for the
integration mix) with numpy and pyarrow, so inputs come from ``--seed``
alone and never from the engine under test.  Text mix per row:

  ~55%  apache-style request line   -> grok happy path
  ~15%  ``tool=... status=...`` line -> kv path
  ~10%  JSON payload                -> grok skipped (flagship) / fails (web)
  ~20%  ``please ...`` prose         -> grok failure path
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROLES = np.array(["user", "assistant", "system", "tool"], dtype=object)
TOOLS = np.array(["search", "code_exec", "browser", "vector_db"], dtype=object)
WORDS = ["alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
         "hotel", "india", "juliet", "kilo", "lima", "mike", "november"]
METHODS = ["GET", "POST", "PUT", "DELETE"]
STATUS = ["200", "200", "200", "301", "404", "500"]
AGENTS = [
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 "
    "(KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/605.1.15 "
    "(KHTML, like Gecko) Version/17.1 Safari/605.1.15",
    "Mozilla/5.0 (X11; Linux x86_64; rv:121.0) Gecko/20100101 Firefox/121.0",
    "curl/8.4.0",
    "Mozilla/5.0 (compatible; Googlebot/2.1; +http://www.google.com/bot.html)",
    "python-requests/2.31.0",
]
BASE_TS_US = 1_767_225_600_000_000  # 2026-01-01T00:00:00Z


def _text(rng: np.random.Generator, n: int, tool: np.ndarray) -> list[str]:
    kind = rng.integers(0, 100, n)
    ip = rng.integers(1, 224, (n, 4))
    word = rng.integers(0, len(WORDS), n)
    method = rng.integers(0, len(METHODS), n)
    status = rng.integers(0, len(STATUS), n)
    path_id = rng.integers(0, 1000, n)
    nbytes = rng.integers(0, 100_000, n)
    dur = rng.integers(0, 10_000, n)
    out = []
    for i in range(n):
        k = kind[i]
        w, m, s = WORDS[word[i]], METHODS[method[i]], STATUS[status[i]]
        if k < 55:
            a, b, c, d = ip[i]
            out.append(f"{a}.{b}.{c}.{d} {m} /api/{w}/{path_id[i]} {s} "
                       f"{nbytes[i]} {dur[i] / 1000:.3f}")
        elif k < 70:
            out.append(f"tool={tool[i] or 'none'} status={s} "
                       f"latency_ms={nbytes[i] % 5000} q={w}")
        elif k < 80:
            ok = "true" if dur[i] % 2 else "false"
            out.append(f'{{"action": "{w}", "count": {path_id[i] % 50}, '
                       f'"ok": {ok}}}')
        else:
            out.append(f"please {w} the {m} report and summarize {s} items")
    return out


def transcripts(seed: int, n_rows: int, with_ua: bool = False,
                dataset: str | None = None) -> pa.Table:
    """One seeded transcript table; the same (seed, n_rows) gives the same
    rows, including conversation skew and per-conversation turn order.
    ``dataset`` stamps the ``data_stream.*`` routing fields into the rows
    (for a stream, which reads the files as they are)."""
    rng = np.random.default_rng(seed)
    n_convs = max(4, n_rows // 20)
    conv = np.floor(rng.random(n_rows) ** 2.0 * n_convs).astype(np.int64)
    order = np.argsort(conv, kind="stable")
    sorted_conv = conv[order]
    starts = np.r_[0, np.flatnonzero(np.diff(sorted_conv)) + 1]
    run_start = np.repeat(starts, np.diff(np.r_[starts, n_rows]))
    turn = np.empty(n_rows, dtype=np.int32)
    turn[order] = (np.arange(n_rows) - run_start).astype(np.int32)
    role = ROLES[rng.integers(0, 4, n_rows)]
    pick = rng.integers(0, 10, n_rows)
    tool = np.where(pick < 4, TOOLS[np.minimum(pick, 3)], None)
    ts = BASE_TS_US + ((conv % 720) * 3600 + turn.astype(np.int64) * 7) * 10**6
    cols = {
        "conv_id": pa.array([f"conv-{c:08d}" for c in conv]),
        "turn_idx": pa.array(turn, pa.int32()),
        "role": pa.array(role.tolist(), pa.string()),
        "text": pa.array(_text(rng, n_rows, tool), pa.string()),
        "tool": pa.array(tool.tolist(), pa.string()),
        "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
    }
    if with_ua:
        ua = rng.integers(0, len(AGENTS), n_rows)
        cols["ua"] = pa.array([AGENTS[u] for u in ua], pa.string())
    if dataset is not None:
        for key, value in (("type", "logs"), ("dataset", dataset),
                           ("namespace", "default")):
            cols[f"data_stream.{key}"] = pa.array([value] * n_rows, pa.string())
    return pa.table(cols)


def write_files(table: pa.Table, path: str, n_files: int) -> None:
    """Write ``table`` as ``n_files`` parquet files (row-order slices) into
    a fresh directory; written to a temporary name and renamed, so a
    killed run never leaves a half-written input behind."""
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(tmp, f"part-{i:05d}.parquet"))
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)


def cached_input(root: str, name: str, seed: int, n_rows: int, n_files: int,
                 with_ua: bool = False, dataset: str | None = None) -> str:
    """Directory of the (seed, size) input, generated on first use."""
    path = os.path.join(root, f"{name}-s{seed}-n{n_rows}-f{n_files}")
    if not os.path.isdir(path):
        write_files(transcripts(seed, n_rows, with_ua, dataset), path, n_files)
    return path
