"""Streaming compiler: Pipeline stages → readStream plan → a
DataStreamWriter from the sink config. The caller starts it
(``.start()``) and owns the StreamingQuery lifecycle.

Stage lowering mirrors the batch compiler; stateful pieces keep their
per-key state in the Structured Streaming state store through
``operators.stateful._keyed_state`` instead of per-group replay."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from wally_spark.api import (
    CountWindows,
    KeyExtractor,
    Pipeline,
    RangeWindows,
    WallyParameterError,
)
from wally_spark.operators.rowpath import add_key_column
from wally_spark.operators.stateful import KEY_COL, run_state_stream
from wally_spark.operators.windows import (
    count_windows_stream,
    range_windows_stream_fast,
    range_windows_stream_panes,
)
from wally_spark.plans.compile import _apply_stateless


def compile_stream(
    spark: SparkSession, pipeline: Pipeline, override_sources: dict[str, DataFrame]
):
    df: DataFrame | None = None
    writer = None
    for stage in pipeline.stages:
        kind = stage[0]
        if kind == "source":
            _, name, cfg = stage
            df = (
                override_sources[name]
                if name in override_sources
                else cfg.read_stream(spark)
            )
        elif kind == "key_by":
            ext: KeyExtractor = stage[1]
            if ext.col is not None:
                df = df.withColumn(KEY_COL, F.col(ext.col).cast("string"))
            else:
                df = add_key_column(df, ext.fn, KEY_COL)
        elif kind == "collect":
            df = df.withColumn(KEY_COL, F.lit(""))
        elif kind == "to":
            df = _apply_stateless(df, stage[1])
        elif kind == "to_state":
            comp = stage[1]
            if KEY_COL not in df.columns:
                raise WallyParameterError("state computation requires key_by first")
            if comp.schema is None:
                raise WallyParameterError("stream state computation needs schema=")
            df = run_state_stream(df, comp, f"{KEY_COL} string, " + comp.schema)
        elif kind == "to_range_windows":
            win: RangeWindows = stage[1]
            if KEY_COL not in df.columns:
                df = df.withColumn(KEY_COL, F.lit(""))
            if win.late_data_policy == "drop" and win.aggregation.spark_agg() is not None:
                df = range_windows_stream_fast(df, win)
            else:
                df = range_windows_stream_panes(df, win)
        elif kind == "to_session_windows":
            from wally_spark.operators.windows import session_windows_op

            if KEY_COL not in df.columns:
                df = df.withColumn(KEY_COL, F.lit(""))
            df = session_windows_op(df, stage[1], streaming=True)
        elif kind == "to_count_windows":
            win: CountWindows = stage[1]
            if KEY_COL not in df.columns:
                df = df.withColumn(KEY_COL, F.lit(""))
            df = count_windows_stream(df, win)
        elif kind == "merge":
            other_writer_df = _compile_stream_df(spark, stage[1], override_sources)
            df = df.unionByName(other_writer_df, allowMissingColumns=False)
        elif kind == "to_sink":
            writer = stage[1].write_stream(df)
        elif kind == "to_sinks":
            raise WallyParameterError(
                "streaming to_sinks: start one query per sink via to_sink pipelines"
            )
        else:
            raise WallyParameterError(f"unknown stage {kind}")
    if writer is None:
        raise WallyParameterError("streaming pipeline must end in to_sink")
    return writer


def _compile_stream_df(spark, pipeline: Pipeline, override_sources):
    """Compile a merge-branch pipeline (no sink) to its DataFrame."""
    open_pipeline = Pipeline(stages=pipeline.stages, closed=False)
    # reuse compile loop by faking a sink that captures the df
    class _Capture:
        df = None

        def write_stream(self, d):
            self.df = d
            return d

    cap = _Capture()
    compile_stream(spark, open_pipeline.to_sink(cap), override_sources)
    return cap.df
