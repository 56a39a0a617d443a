"""Independent DuckDB re-derivation of each workload's expected output, and
the readers that take the same figures from what a pass wrote.

The expected side reads only the generated input parquet, applying the
pipelines' rules in plain SQL:

* flagship (``batch_job``, ``stream_microbatch``): a row fails when grok
  runs on it (text starts with neither ``tool=`` nor ``{``) and the
  apache request-line pattern does not match; a failure short-circuits the
  reroute, so only healthy ``tool`` turns reach the tools sink.
* example pipelines (``integration_mix``): tool lines reroute to the tools
  index; every other line must match the request-line pattern or the
  pipeline's on_failure sets ``error.kind``; the painless script counts
  space-separated tokens on rows that did not fail.
"""

from __future__ import annotations

import glob
import os

import duckdb

APACHE_RE = r"(\d{1,3}\.){3}\d{1,3} \w+ \S+ \d+ \d+ \d+(\.\d+)?"
TOOLS_SINK = "logs-agent.tools-default"
TURNS_SINK = "logs-agent.turns-default"
WEB_INDEX = "logs-web.access-default"
WEB_TOOLS_INDEX = "logs-web.tools-default"
FAILURE_TAG = "_ingest_pipeline_failure"

_FLAGSHIP_FAILED = (f"(NOT starts_with(text, 'tool=') AND NOT starts_with(text, '{{') "
                    f"AND NOT regexp_matches(text, '{APACHE_RE}'))")


def _connect():
    return duckdb.connect(config={"threads": 2})


def _files_sql(files: list[str]) -> str:
    return "[" + ", ".join("'" + f.replace("'", "''") + "'" for f in files) + "]"


def flagship_expected_by_file(files: list[str]) -> dict[str, dict]:
    """Per input file: rows per sink and failed rows under the flagship
    rules (summed over the staged files by the stream check)."""
    con = _connect()
    rows = con.execute(f"""
        WITH t AS (SELECT filename, role, {_FLAGSHIP_FAILED} AS failed
                   FROM read_parquet({_files_sql(files)}, filename = true))
        SELECT filename,
               CASE WHEN role = 'tool' AND NOT failed THEN '{TOOLS_SINK}'
                    ELSE '{TURNS_SINK}' END AS sink,
               count(*), sum(failed::INT)
        FROM t GROUP BY 1, 2""").fetchall()
    con.close()
    out: dict[str, dict] = {}
    for fn, sink, n, failed in rows:
        e = out.setdefault(os.path.basename(fn), {"sinks": {}, "failed": 0})
        e["sinks"][sink] = e["sinks"].get(sink, 0) + n
        e["failed"] += int(failed)
    return out


def sum_expected(per_file: dict[str, dict], names) -> dict:
    total = {"sinks": {}, "failed": 0}
    for name in names:
        e = per_file[name]
        for sink, n in e["sinks"].items():
            total["sinks"][sink] = total["sinks"].get(sink, 0) + n
        total["failed"] += e["failed"]
    return total


def mix_expected(files: list[str]) -> dict:
    con = _connect()
    rows = con.execute(f"""
        WITH t AS (
          SELECT text,
                 starts_with(text, 'tool=') AS tool_line,
                 NOT starts_with(text, 'tool=')
                   AND NOT regexp_matches(text, '{APACHE_RE}') AS failed
          FROM read_parquet({_files_sql(files)}))
        SELECT CASE WHEN tool_line THEN '{WEB_TOOLS_INDEX}'
                    ELSE '{WEB_INDEX}' END,
               count(*), sum(failed::INT),
               sum(CASE WHEN failed THEN 0
                        ELSE len(string_split(text, ' ')) END)
        FROM t GROUP BY 1""").fetchall()
    con.close()
    return {"indices": {i: n for i, n, _, _ in rows},
            "errors": sum(int(e) for _, _, e, _ in rows),
            "tokens": sum(int(k) for _, _, _, k in rows)}


def _parquet_glob(root: str) -> str:
    return os.path.join(root, "**", "*.parquet")


def flagship_actual(sinks_root: str, counts_root: str,
                    lineage_failed: int | None = None) -> dict:
    """Rows per sink and failure-tagged rows as written by a pass: the
    fan-out sink table (sink from its ``__sink`` partition directory) and
    the per-sink aggregate table, which must agree."""
    con = _connect()
    sinks = dict(con.execute(f"""
        SELECT __sink, count(*) FROM read_parquet('{_parquet_glob(sinks_root)}',
                                                  hive_partitioning = true)
        GROUP BY 1""").fetchall())
    failed = con.execute(f"""
        SELECT count(*) FROM read_parquet('{_parquet_glob(sinks_root)}',
                                          hive_partitioning = true)
        WHERE list_contains(tags, '{FAILURE_TAG}')""").fetchone()[0]
    counted = dict(con.execute(f"""
        SELECT sink, sum(n)::BIGINT FROM read_parquet('{_parquet_glob(counts_root)}',
                                                      hive_partitioning = true)
        GROUP BY 1""").fetchall())
    con.close()
    out = {"sinks": sinks, "failed": failed, "sink_counts": counted}
    if lineage_failed is not None:
        out["lineage_failed"] = lineage_failed
    return out


def flagship_mismatch(expected: dict, actual: dict) -> str | None:
    if actual["sinks"] != expected["sinks"]:
        return f"rows per sink {actual['sinks']} != {expected['sinks']}"
    if actual["sink_counts"] != expected["sinks"]:
        return (f"sink_counts per sink {actual['sink_counts']} "
                f"!= {expected['sinks']}")
    if actual["failed"] != expected["failed"]:
        return f"failed rows {actual['failed']} != {expected['failed']}"
    if actual.get("lineage_failed", expected["failed"]) != expected["failed"]:
        return (f"lineage failed {actual['lineage_failed']} "
                f"!= {expected['failed']}")
    return None


def mix_actual(out_root: str) -> dict:
    con = _connect()
    rows = con.execute(f"""
        SELECT _index, count(*), count("error.kind"),
               coalesce(sum(token_count), 0)::BIGINT
        FROM read_parquet('{_parquet_glob(out_root)}') GROUP BY 1""").fetchall()
    con.close()
    return {"indices": {i: n for i, n, _, _ in rows},
            "errors": sum(e for _, _, e, _ in rows),
            "tokens": sum(k for _, _, _, k in rows)}


def mix_mismatch(expected: dict, actual: dict) -> str | None:
    for key in ("indices", "errors", "tokens"):
        if actual[key] != expected[key]:
            return f"{key} {actual[key]} != {expected[key]}"
    return None


def parquet_files(path: str) -> list[str]:
    return sorted(glob.glob(os.path.join(path, "*.parquet")))
