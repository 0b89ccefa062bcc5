"""apm_opentelemetry_collector_spark — PySpark-native transcript telemetry pipeline.

A brand-new Spark-first engine with the capabilities of
signalfx/apm-opentelemetry-collector (the Omnition/SignalFx OpenTelemetry
collector build): a parse → enrich → route → aggregate pipeline over tables
of multi-turn conversation/agent transcripts
(conv_id, turn_idx, role, text, tool, ts).

The reference is a Go channel/goroutine pipeline; this engine re-expresses
its semantics as declarative DataFrame plans so Catalyst/Tungsten/AQE pick
the physical strategy. See SURVEY.md for the operator-by-operator mapping.

Layout:
  config          — reference defaults (exporter/omnishard/factory.go:31-35)
  session         — SparkSession builder tuned for the pipeline
  sources/        — transcript derivation + synthetic generators + fixtures
  functions/      — column-expression libraries (parse, sharding, sqlgen,
                    sketch, text, vectors)
  operators/      — collector-path operators (validate, forward-fill,
                    truncate, enrich, route, pack, encode, aggregate,
                    sample, translate), time-series and analytics operators
                    (asof, resample, rates, skew, outliers, tdigest,
                    analytics) and corpus-curation operators
                    (substring-level dedup and decontamination,
                    curation, clustering)
  plans/          — end-to-end pipeline assembly + lineage/resume
  streaming/      — Structured Streaming variant of the collector path
                    (stateful forward fill, watermarked counts, dedup,
                    sessions, exactly-once sinks)
"""

__version__ = "0.1.0"
