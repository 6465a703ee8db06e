"""The flagship parse -> enrich -> route -> aggregate pipeline.

``FLAGSHIP`` declares the operator stages exactly as the reference's
logs path does (SURVEY.md north rule), and ``build`` compiles it with
the one stage compiler, ``config_pipeline.build_from_config``:

  filelog receiver (transcripts source)
    -> regex_parser (vectorized; on_error=send => parse_ok column)
    -> key_value_parser on the message tail
    -> severity_parser
    -> k8sattributes-style broadcast enrich (conv_dim, tool_dim cascade)
    -> routing connector (first-match-wins tag; resource-context route)
    -> per-sink exporters + count/sum connectors

Scale design: one scan of ``events``, one shuffle, one write.
  * The only exchange is the source's own ``PARTITION BY conv_id``
    window (``sources.transcripts``). Parse and enrich are narrow (dims
    broadcast), so the data stays clustered and sorted on conv_id, and
    the resource-context route is a window over conv_id that reuses
    that exchange: no second derivation of the source, no extra
    shuffle, no sort.
  * Order-sensitive stages (recombine, per-turn equality) sort an array
    per group instead of trusting shuffle order — correct on any cluster.
  * ``run`` executes ONE action: the per-sink write (or a noop drain
    without an output dir). Per-route counts are ``observe``d on the
    tagged frame during that action and folded through the sink map
    into the per-sink counts, so counting costs no pass of its own.
    Per-sink writes use a single partitionBy("sink") job rather than N
    filtered scans.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators import connectors
from ..schema import PARSE_PATTERN, PARSE_GROUPS
from .config_pipeline import build_from_config
from .lineage import Lineage


@dataclass
class PipelineResult:
    parsed: DataFrame
    enriched: DataFrame
    tagged: DataFrame
    sink_map: dict[str, list[str]]
    lineage: Lineage


#: the flagship as one stage config, compiled by ``build_from_config``
#: for batch (here) and streaming (its log-context routes); the
#: ``observe`` values name the lineage stages ``parse`` and ``enrich``
FLAGSHIP = {
    "processors": [
        # regex_parser; on_error=send => parse_ok column
        {"type": "regex_parser", "pattern": PARSE_PATTERN, "groups": PARSE_GROUPS},
        {"type": "key_value_parser", "parse_from": "msg", "out": "kv"},
        {"type": "severity_parser", "parse_from": "level", "observe": "parse"},
        # k8sattributes analog, conv -> tool cascade
        {"type": "enrich", "dim": "conv_dim", "on": "conv_id"},
        {"type": "enrich", "dim": "tool_dim", "on": "tool", "observe": "enrich"},
    ],
    "routes": [
        # row-level: ERROR/FATAL turns -> errors + audit (route duplication)
        {"name": "errors", "condition": "level IN ('ERROR','FATAL')",
         "context": "log", "sinks": ["errors", "audit"]},
        # resource-level: any FATAL in the conversation -> whole conv
        {"name": "incident", "condition": "level = 'FATAL'",
         "context": "resource", "sinks": ["incident"]},
        {"name": "risky_tools", "condition": "tool <> '' AND risk_tier = 'high'",
         "context": "log", "sinks": ["risky_tools"]},
    ],
    "default_sinks": ["catchall"],
    # the window strategy reuses the source's conv_id exchange (see the
    # module docstring); broadcast would derive the source a second time
    "resource_strategy": "window",
}


def build(
    spark: SparkSession, sf_dir: str, *, lineage: Lineage | None = None
) -> PipelineResult:
    """Compile ``FLAGSHIP`` to its logical plan; nothing executes until
    an action."""
    lin = lineage or Lineage()
    tagged, sink_map = build_from_config(spark, sf_dir, FLAGSHIP, lineage=lin)
    return PipelineResult(
        lin.frames["parse"], lin.frames["enrich"], tagged, sink_map, lin
    )


def per_sink_counts(result: PipelineResult) -> DataFrame:
    """countconnector over the routed stream: rows per sink."""
    routed = connectors.routed_union(result.tagged, result.sink_map)
    return routed.groupBy("sink").agg(F.count(F.lit(1)).alias("n")).orderBy("sink")


def pipeline_metrics(result: PipelineResult) -> DataFrame:
    """The north star's batch-processor aggregate block — per-sink record
    counts PLUS per-sink/per-role and per-tool turn histograms — as ONE
    multi-metric countconnector pass over the routed stream (one scan,
    one shuffle; see connectors.count_connector_multi)."""
    routed = connectors.routed_union(result.tagged, result.sink_map)
    return connectors.count_connector_multi(
        routed,
        {
            "records.per_sink": connectors.MetricSpec(attrs=["sink"]),
            "turns.per_sink_role": connectors.MetricSpec(
                attrs=["sink", "role"]
            ),
            "turns.per_tool": connectors.MetricSpec(
                attrs=["tool"], defaults={"tool": "none"}
            ),
        },
    )


def run(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str | None = None,
    *,
    with_histograms: bool = False,
) -> dict:
    """Execute end-to-end in one action; optionally write per-sink
    tables; return metrics.

    The action is ``write_routed`` when ``out_dir`` is set, otherwise a
    noop drain. ``per_sink_counts`` comes from the per-route counts the
    ``route`` observation collects during that action.
    ``with_histograms`` adds the full metric block (per-sink counts +
    per-sink/role + per-tool histograms) computed in one extra pass via
    the multi-metric connector, under ``out["metrics"]``."""
    result = build(spark, sf_dir)
    if out_dir:
        paths = connectors.write_routed(result.tagged, result.sink_map, out_dir)
    else:
        connectors.drop_export(result.tagged)
    lineage = result.lineage.collect()
    counts = connectors.sink_counts(lineage["route"], result.sink_map)
    out = {"per_sink_counts": counts}
    if with_histograms:
        out["metrics"] = [r.asDict() for r in pipeline_metrics(result).collect()]
    if out_dir:
        out["sink_paths"] = paths
    out["lineage"] = lineage
    return out
