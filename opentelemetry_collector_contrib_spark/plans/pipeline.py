"""The flagship parse -> enrich -> route -> aggregate pipeline.

This composes the operator stages exactly as the reference's logs path
does (SURVEY.md north rule):

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

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators import connectors, parsers, processors
from ..schema import PARSE_PATTERN, PARSE_GROUPS, PARSE_PATTERN_NAMED
from ..sources import transcripts as src
from .lineage import Lineage


@dataclass
class PipelineResult:
    parsed: DataFrame
    enriched: DataFrame
    tagged: DataFrame
    sink_map: dict[str, list[str]]
    lineage: Lineage


DEFAULT_ROUTES = [
    # 1) row-level: ERROR/FATAL turns -> errors + audit (route duplication)
    dict(name="errors", context="log", sinks=["errors", "audit"]),
    # 2) resource-level: any FATAL in the conversation -> whole conv to incident
    dict(name="incident", context="resource", sinks=["incident"]),
    # 3) row-level: risky tool usage
    dict(name="risky_tools", context="log", sinks=["risky_tools"]),
]


def build(
    spark: SparkSession,
    sf_dir: str,
    *,
    parse_mode: str = "native",
    lineage: Lineage | None = None,
) -> PipelineResult:
    """Assemble the full logical plan; nothing executes until an action."""
    lin = lineage or Lineage()

    turns = src.transcripts_df(spark, sf_dir)

    # ---- parse stage (regex_parser; on_error=send) ----
    if parse_mode == "arrow":
        parsed = parsers.regex_parse_arrow(turns, PARSE_PATTERN_NAMED)
    else:
        parsed = parsers.regex_parse(turns, PARSE_PATTERN, PARSE_GROUPS)
    parsed = parsers.key_value_parse(
        parsed, parse_from="msg", pair_delim=" ", kv_delim="=", out="kv"
    )
    parsed = parsers.severity_parse(parsed, parse_from="level")
    parsed = lin.observe(
        parsed, "parse", parse_errors=F.sum((~F.col("parse_ok")).cast("long"))
    )

    # ---- enrich stage (k8sattributes analog, conv -> tool cascade) ----
    conv_dim = src.conv_dim_df(spark, sf_dir)
    tool_dim = src.tool_dim_df(spark)
    enriched = processors.enrich_lookup(parsed, conv_dim, on="conv_id")
    enriched = processors.enrich_lookup(enriched, tool_dim, on="tool")
    enriched = lin.observe(enriched, "enrich")

    # ---- route stage (routing connector) ----
    routes = [
        connectors.Route(
            condition=F.col("level").isin("ERROR", "FATAL"),
            sinks=["errors", "audit"],
            context="log",
            name="errors",
        ),
        connectors.Route(
            condition=F.col("level") == "FATAL",
            sinks=["incident"],
            context="resource",
            name="incident",
        ),
        connectors.Route(
            condition=(F.col("tool") != "") & (F.col("risk_tier") == "high"),
            sinks=["risky_tools"],
            context="log",
            name="risky_tools",
        ),
    ]
    # the window strategy reuses the source's conv_id exchange (see the
    # module docstring); broadcast would derive the source a second time
    tagged, sink_map = connectors.route_logs(
        enriched, routes, default_sinks=["catchall"], resource_strategy="window"
    )
    tagged = lin.observe(tagged, "route", **connectors.route_count_metrics(sink_map))

    return PipelineResult(parsed, enriched, tagged, sink_map, lin)


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
    parse_mode: str = "native",
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
    result = build(spark, sf_dir, parse_mode=parse_mode)
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
