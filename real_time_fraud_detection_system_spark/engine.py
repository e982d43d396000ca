"""Engine facade: the single object a user of the reference system
switches to.

Reference surface -> engine method:
  * Postgres SQL over predictions (Grafana/DAG queries) -> ``sql()`` /
    ``query()`` (any registered catalog query by name)
  * POST /predict (main.py:173-180)                     -> ``score_one()``
  * Kafka consumer hot path (main.py:219-254)           -> ``run_stream()``
  * compute-daily-metrics DAG                           -> ``daily_metrics_upsert()``
  * Data_quality_checks DAG                             -> ``dq_checks()``
  * training.py + promotion                             -> ``train_and_register()``

Everything is a thin delegation -- the engine's real surface is the
operators/ modules; this class just binds them to one (spark, sf_dir)
pair and keeps temp views registered.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .catalog import load_table, register_views
from .session import default_sf_dir, get_spark


class Engine:
    def __init__(
        self,
        spark: SparkSession | None = None,
        sf_dir: str | None = None,
        registry_dir: str | None = None,
    ):
        self.spark = spark or get_spark()
        self.sf_dir = sf_dir or default_sf_dir()
        self.registry_dir = registry_dir
        register_views(self.spark, self.sf_dir)

    # -- relational surface -------------------------------------------------
    def sql(self, query: str) -> DataFrame:
        """Ad-hoc Spark SQL over the registered tables."""
        return self.spark.sql(query)

    def table(self, name: str) -> DataFrame:
        return load_table(self.spark, self.sf_dir, name)

    def query(self, name: str) -> DataFrame:
        """Run a registered catalog query (COVERAGE.md) by name."""
        from .operators import all_queries

        return all_queries()[name](self.spark, self.sf_dir)

    def queries(self) -> list[str]:
        from .operators import all_queries

        return sorted(all_queries())

    # -- scoring ------------------------------------------------------------
    def load_model(self):
        from .ml.training import load_production

        return load_production(self.spark, self.registry_dir)

    def score(self, df: DataFrame) -> DataFrame:
        from .ml.scoring import score

        model, version = self.load_model()
        return score(df, model, version)

    def score_one(self, transaction: dict) -> dict:
        from .ml.scoring import score_one

        model, version = self.load_model()
        return score_one(self.spark, model, transaction, version)

    # -- training -----------------------------------------------------------
    def train_and_register(self, n: int = 5000, seed: int = 42) -> dict:
        from .ml.training import train_and_register
        from .sources.generators import training_frame

        if self.registry_dir is None:
            raise ValueError("Engine(registry_dir=...) required for training")
        return train_and_register(
            training_frame(self.spark, n, seed), self.registry_dir
        )

    # -- streaming ----------------------------------------------------------
    def run_stream(
        self,
        transactions: DataFrame,
        out_dir: str,
        checkpoint_dir: str,
        trigger_seconds: int | None = None,
    ):
        from .streaming.pipeline import run_pipeline_with_registry

        return run_pipeline_with_registry(
            transactions, out_dir, checkpoint_dir, self.registry_dir,
            trigger_seconds,
        )

    # -- scheduled jobs -----------------------------------------------------
    def daily_metrics_upsert(
        self, predictions: DataFrame, metrics_dir: str, days_filter=None
    ) -> None:
        from .streaming.jobs import daily_metrics_upsert

        daily_metrics_upsert(self.spark, predictions, metrics_dir, days_filter)

    def dq_checks(self, predictions: DataFrame) -> dict:
        from .streaming.jobs import dq_checks

        return dq_checks(predictions)
