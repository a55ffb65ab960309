"""Benchmark workloads as the TOML pipelines a user hands to ``cryoflow``.

Each workload is one config written against the seeded inputs of
:mod:`gen`. This module imports nothing but the standard library, so
writing a config costs nothing inside the timed set-up.
"""

from __future__ import annotations

import hashlib
from pathlib import Path

_GEN_SOURCE = Path(__file__).with_name("gen.py")

# Every config pins the session to what the benchmark host can hold.
# ``spark.driver.memory`` is set because the engine default (16g) is more
# than the 15 GiB benchmark host has; see README.md, "Defects".
_SPARK = """
[spark]
app_name = "perfbench-{name}"
conf = {{ "spark.driver.memory" = "3g", "spark.sql.warehouse.dir" = "{state}/warehouse", "spark.driver.extraJavaOptions" = "-Djava.io.tmpdir={state}/tmp -XX:-UsePerfData" }}
"""


def _etl_toml(inp: Path, out: Path) -> str:
    return f"""
[[input_plugins]]
name = "lineitem"
module = "parquet_scan"
options = {{ input_path = "{inp}/lineitem.parquet" }}

[[input_plugins]]
name = "orders"
module = "parquet_scan"
label = "orders"
options = {{ input_path = "{inp}/orders.parquet" }}

[[input_plugins]]
name = "customer"
module = "parquet_scan"
label = "customer"
options = {{ input_path = "{inp}/customer.parquet" }}

[[transform_plugins]]
name = "shipped"
module = "filter"
options = {{ predicate = "l_shipdate < TIMESTAMP '2022-07-01 00:00:00' AND l_quantity > 3" }}

[[transform_plugins]]
name = "with_orders"
module = "join"
options = {{ right_label = "orders", condition = "left.l_orderkey = right.o_orderkey" }}

[[transform_plugins]]
name = "with_customer"
module = "join"
options = {{ right_label = "customer", condition = "left.o_custkey = right.c_custkey" }}

[[transform_plugins]]
name = "rollup"
module = "group_agg"
options = {{ group_by = ["c_mktsegment", "o_orderpriority", "l_returnflag"], aggs = {{ revenue = "sum(l_extendedprice * (1 - l_discount))", qty = "sum(l_quantity)", n_lines = "count(*)", n_orders = "count(distinct l_orderkey)" }} }}

[[output_plugins]]
name = "out"
module = "parquet_writer"
options = {{ output_path = "{out}/rollup" }}
"""


def _corpus_toml(inp: Path, out: Path) -> str:
    return f"""
[[input_plugins]]
name = "docs"
module = "parquet_scan"
options = {{ input_path = "{inp}/documents.parquet" }}

[[transform_plugins]]
name = "pii"
module = "curate"
options = {{ method = "pii_scrub", column = "text" }}

[[transform_plugins]]
name = "derepeat"
module = "curate"
options = {{ method = "repetition_filter", column = "text", id_column = "doc_id", max_top_token_frac = 0.5, min_tokens = 5 }}

[[transform_plugins]]
name = "neardup"
module = "dedup"
options = {{ method = "minhash", column = "text", id_column = "doc_id", threshold = 0.8 }}

[[output_plugins]]
name = "lake"
module = "parquet_writer"
options = {{ output_path = "{out}/curated", partition_by = ["lang"] }}
"""


def _events_toml(inp: Path, out: Path) -> str:
    return f"""
[[input_plugins]]
name = "events"
module = "parquet_scan"
options = {{ input_path = "{inp}/events.parquet" }}

[[transform_plugins]]
name = "enrich"
module = "with_column"
options = {{ columns = {{ event_date = "to_date(ts)", k = "cast(get_json_object(props, '$.k') as int)" }} }}

[[output_plugins]]
name = "lake"
module = "parquet_writer"
options = {{ output_path = "{out}/lake", partition_by = ["event_date"] }}

[[output_plugins]]
name = "csv"
module = "csv_writer"
options = {{ output_path = "{out}/csv", header = true }}

[[output_plugins]]
name = "json"
module = "json_writer"
options = {{ output_path = "{out}/json" }}
"""


STREAM_GAP_MIN = 30
STREAM_DELAY_MIN = 10


def _stream_toml(inp: Path, out: Path) -> str:
    return f"""
[[input_plugins]]
name = "events"
module = "file_stream"
options = {{ input_path = "{inp}/events", format = "parquet", max_files_per_trigger = 4 }}

[[transform_plugins]]
name = "to_ts"
module = "cast"
options = {{ casts = {{ ts = "timestamp" }} }}

[[transform_plugins]]
name = "wm"
module = "watermark"
options = {{ column = "ts", delay = "{STREAM_DELAY_MIN} minutes" }}

[[transform_plugins]]
name = "sessions"
module = "session_window"
options = {{ key = "user_id", time_column = "ts", gap = "{STREAM_GAP_MIN} minutes", aggs = {{ n_events = "count(*)", total_value = "sum(value)" }} }}

[[output_plugins]]
name = "out"
module = "stream_writer"
options = {{ output_path = "{out}/sessions", trigger = "available_now", output_mode = "append" }}
"""


#: name -> (why it is in the benchmark, config template)
WORKLOADS = {
    "etl_join_rollup": (
        "scan, two sibling joins and a shuffle aggregate dominate; tiny output, no text functions",
        _etl_toml,
    ),
    "corpus_curation": (
        "text functions (PII scrub, repetition filter, MinHash near-dup) on a 1-partition scan dominate",
        _corpus_toml,
    ),
    "events_fanout": (
        "one label fanned out to three writers: write-heavy, exercises the fan-out persist",
        _events_toml,
    ),
    "stream_sessions": (
        "the only streaming path: file source, watermark, session-window state store, checkpoints",
        _stream_toml,
    ),
}


def transform_steps() -> list[str]:
    """Names of every transform step of every workload, in config order."""
    import tomllib

    steps: list[str] = []
    for _, template in WORKLOADS.values():
        cfg = tomllib.loads(template(Path("in"), Path("out")))
        steps += [t["name"] for t in cfg["transform_plugins"] if t["name"] not in steps]
    return steps


def input_dir(state: Path, workload: str, seed: int) -> Path:
    """Where the inputs of ``workload`` for ``seed`` are cached. The name
    carries a digest of the generator's source, so a changed generator
    never reuses inputs an older one wrote."""
    code = hashlib.sha256(_GEN_SOURCE.read_bytes()).hexdigest()[:12]
    return state / "data" / workload / f"seed-{seed}-{code}"


def write_config(workload: str, inp: Path, out: Path, state: Path) -> Path:
    """Write the workload's TOML beside its output directory; return its path."""
    text = WORKLOADS[workload][1](inp, out) + _SPARK.format(name=workload, state=state)
    out.mkdir(parents=True, exist_ok=True)
    path = out.parent / f"{workload}.toml"
    path.write_text(text)
    return path
