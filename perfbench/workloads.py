"""The benchmark's workloads: which registry queries run, into which sink.

``etl_pipelines`` is the reference's own daily traffic (siretisation and
open-data publish) and the only workload with a real sink: parquet
through ``io.writers.write_parquet``, and CSV through ``write_csv`` for
the open-data output, as the reference publishes CSV. ``llm_curation``
is per-row CPU kernels, the Python/Arrow boundary and eager checkpoints
over ``documents`` and ``embeddings``; its outputs go to the noop sink.
See README.md for why each was chosen.
"""

from __future__ import annotations

from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from trackdechets_etl_spark.io.writers import write_csv, write_parquet


CSV_OUTPUTS = frozenset({"pipeline_open_data"})


@dataclass(frozen=True)
class Workload:
    queries: tuple[str, ...]
    writes_files: bool

    def sink(self, query: str, df: DataFrame, out_dir: Path) -> None:
        """Run ``df`` to completion into the workload's sink."""
        if not self.writes_files:
            df.write.format("noop").mode("overwrite").save()
        elif query in CSV_OUTPUTS:
            write_csv(df, str(out_dir / query))
        else:
            write_parquet(df, str(out_dir / query))

    def read_back(
        self, spark: SparkSession, query: str, schema: StructType, out_dir: Path
    ) -> DataFrame:
        """The files ``sink`` wrote for ``query``, read with its schema."""
        reader = spark.read.schema(schema)
        if query in CSV_OUTPUTS:
            return reader.option("header", "true").csv(str(out_dir / query))
        return reader.parquet(str(out_dir / query))


WORKLOADS = {
    "etl_pipelines": Workload(
        queries=(
            "pipeline_siretisation_enriched",
            "pipeline_siretisation_stats",
            "pipeline_siretisation_stats_pre",
            "pipeline_rubriques_chain",
            "pipeline_open_data",
            "flagship_revenue_by_nation",
            "join_inner_rubriques",
            "agg_coverage_stats",
            "agg_keep_last_by_year",
        ),
        writes_files=True,
    ),
    "llm_curation": Workload(
        queries=(
            "dedup_ngram_jaccard",
            "dedup_minhash_lsh",
            "dedup_simhash",
            "sim_topk_bruteforce",
            "sim_lsh_bucket_topk",
            "sim_ivf_topk",
            "text_quality_score",
            "text_fingerprint",
            "graph_pagerank",
        ),
        writes_files=False,
    ),
}
