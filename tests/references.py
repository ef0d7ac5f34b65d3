"""Reference forms the library no longer runs: the straightforward
plans its production paths are pinned against.

- ``min_label_propagation``: connected components by plain min-label
  propagation, O(component diameter) rounds — the reference for
  ``operators.dedup.dedup_clusters``.
- ``traffic_hourly_reference``: ``batch_tomtom.py`` stage for stage — five
  fine-level scans inner-joined, then the coarse roll-up joined to its two
  modes (9 scans in all) — the reference for
  ``plans.pipelines.traffic_hourly``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bda_spadochrony_spark.functions.numeric import stable_round
from bda_spadochrony_spark.functions.temporal import with_date_hour
from bda_spadochrony_spark.operators.aggregates import mode_by_struct_max
from bda_spadochrony_spark.operators.sorts import sort_by


def min_label_propagation(pairs: DataFrame, id_a: str = "id_a",
                          id_b: str = "id_b", max_iter: int = 40
                          ) -> tuple[DataFrame | None, int]:
    """Minimum-label propagation: every round each node adopts
    min(own label, neighbors' labels). One shuffle-join per round;
    converges in O(component diameter) rounds. Returns (labels, rounds);
    labels is None when ``max_iter`` rounds did not converge."""
    edges = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    sym = edges.union(edges.select(F.col("dst").alias("src"),
                                   F.col("src").alias("dst")))
    labels = (edges.select(F.col("src").alias("id"))
              .union(edges.select("dst")).distinct()
              .withColumn("label", F.col("id")))
    for rounds in range(1, max_iter + 1):
        nbr = (sym.join(labels, sym.dst == labels.id)
               .groupBy("src").agg(F.min("label").alias("nbr_min")))
        merged = (labels.join(nbr, labels.id == nbr.src, "left")
                  .select(labels.id.alias("id"),
                          F.col("label").alias("old_label"),
                          F.least(F.col("label"),
                                  F.coalesce("nbr_min", F.col("label")))
                          .alias("label")))
        labels = merged.localCheckpoint(eager=True)  # cut lineage per round
        if labels.where(F.col("label") != F.col("old_label")).isEmpty():
            return labels.select("id", F.col("label").alias("canonical_id")), rounds
    return None, max_iter


def traffic_hourly_reference(tomtom: DataFrame,
                             tz: str | None = "America/New_York") -> DataFrame:
    """``batch_tomtom.py:86-122`` reproduced stage for stage: per fine
    group a null-skipping count, filter-then-avg of delay and length and
    the two struct-max modes, INNER-joined (a NULL key or an all-null
    delay/length group drops out); then the unweighted avg-of-avgs
    roll-up, rounded at the coarse level only, joined to the
    mode-of-modes columns."""
    keyed = with_date_hour(tomtom, "observationTime", tz=tz)
    fine_keys = ["date", "hour", "iconCategory", "id"]
    delay = (keyed.filter(F.col("delay").isNotNull())
             .groupBy(*fine_keys).agg(F.avg("delay").alias("avg_delay")))
    length = (keyed.filter(F.col("length").isNotNull())
              .groupBy(*fine_keys).agg(F.avg("length").alias("avg_length")))
    fine = (keyed.groupBy(*fine_keys)
            .agg(F.count("probabilityOfOccurrence").alias("n_prob"))
            .join(delay, fine_keys)
            .join(length, fine_keys)
            .join(mode_by_struct_max(keyed, fine_keys, "probabilityOfOccurrence"),
                  fine_keys)
            .join(mode_by_struct_max(keyed, fine_keys, "magnitudeOfDelay"),
                  fine_keys))
    coarse_keys = ["date", "hour", "iconCategory"]
    coarse = (fine.groupBy(*coarse_keys)
              .agg(F.count("id").alias("n_incidents"),
                   stable_round(F.avg("avg_delay"), 2).alias("avg_avg_delay"),
                   stable_round(F.avg("avg_length"), 2).alias("avg_avg_length"))
              .join(mode_by_struct_max(fine, coarse_keys,
                                       "mode_probabilityOfOccurrence",
                                       out_col="coarse_mode_prob"), coarse_keys)
              .join(mode_by_struct_max(fine, coarse_keys, "mode_magnitudeOfDelay",
                                       out_col="coarse_mode_mag"), coarse_keys))
    return sort_by(coarse, coarse_keys)
