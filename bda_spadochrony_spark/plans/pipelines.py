"""Reference-parity batch pipelines (SURVEY §3.1): the three hourly
aggregate jobs, generalized.

Differences from the reference by design (SURVEY §4.1):
- one multi-file scan instead of per-file glob/union;
- ``persist()`` before multi-action fan-out (the reference recomputes the
  DAG 4× per job — ``batch_openweather.py:107-120``);
- the serving write is executor-side (writers.write_serving_table), driver
  collect loops are gone;
- sort only at the sink, where the reference sorts.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bda_spadochrony_spark.functions.temporal import with_date_hour
from bda_spadochrony_spark.operators.aggregates import (group_agg,
                                                        hourly_measures,
                                                        mode_by_struct_max)
from bda_spadochrony_spark.operators.joins import equi_join
from bda_spadochrony_spark.operators.sorts import sort_by
from bda_spadochrony_spark.functions.numeric import stable_round


def hourly_rollup(df: DataFrame, ts_col: str,
                  avg_cols: list[str],
                  mode_cols: list[str] | None = None,
                  tz: str | None = None, skew_minutes: int = 0,
                  ndigits: int = 2) -> DataFrame:
    """The generalized weather/stock hourly job: date/hour derivation →
    count + rounded avgs → mode columns joined on (date, hour) → sort.

    Weather flavor (``batch_openweather.py:69-105``): 9 avgs + 2 modes.
    Stock flavor (``batch_stock.py:70-85``): NY timezone, −20 min skew,
    8 avgs, no modes.
    """
    keyed = with_date_hour(df, ts_col, tz=tz, skew_minutes=skew_minutes)
    agg = group_agg(keyed, ["date", "hour"], hourly_measures(avg_cols, ndigits))
    for mc in (mode_cols or []):
        agg = equi_join(agg, mode_by_struct_max(keyed, ["date", "hour"], mc),
                        on=["date", "hour"])
    return sort_by(agg, ["date", "hour"])


def weather_hourly(weather: DataFrame) -> DataFrame:
    """``batch_openweather.py`` parity: 9 averaged metrics, mode of
    weather_main and weather_description."""
    return hourly_rollup(
        weather, "timestamp",
        avg_cols=["temp", "visibility", "pressure", "clouds", "feels_like",
                  "temp_max", "temp_min", "humidity", "wind_speed"],
        mode_cols=["weather_main", "weather_description"])


def stock_hourly(stock: DataFrame) -> DataFrame:
    """``batch_stock.py`` parity: NY wall-clock, −20 min feed-skew
    correction, 8 averaged metrics (epoch-seconds ``timestamp`` column is
    Integer in the reference — cast first)."""
    s = stock.withColumn("event_ts", F.to_timestamp(F.col("timestamp").cast("long")))
    return hourly_rollup(
        s, "event_ts", tz="America/New_York", skew_minutes=20,
        avg_cols=["volume", "vwap", "open", "close", "high", "low", "transactions"])


def _two_mode_rollup(df: DataFrame, keys: list[str], modes: tuple[str, str],
                     measures: list[str]) -> DataFrame:
    """Per ``keys``: the row count, each ``measures`` column's double sum
    and non-null count, and the mode of both ``modes`` columns — from
    ONE Expand (grouping sets ``keys + [mode]``) and two aggregates. The
    first mode's rows carry the additive partials; both sets carry the
    per-value counts, so each mode is a conditional
    ``max(struct(count, value))``: ties go to the larger value and NULL
    is a value of its own, as in ``mode_by_struct_max``. Integral
    measures are cast to double before summing, as Spark's ``Average``
    does (decimals too, so their averages come out double)."""
    m0, m1 = modes
    by_value = (df.groupingSets([[*keys, m0], [*keys, m1]], *keys, m0, m1)
                .agg(F.grouping(m1).alias("__is_m0"),   # m1 grouped out
                     F.count(F.lit(1)).alias("__n"),
                     *[F.sum(F.col(c).cast("double")).alias(f"__s_{c}")
                       for c in measures],
                     *[F.count(c).alias(f"__c_{c}") for c in measures]))
    is_m0 = F.col("__is_m0") == 1

    def of_m0(c: str) -> Column:
        return F.when(is_m0, F.col(c))

    def mode(cond: Column, c: str) -> Column:
        return F.max(F.when(cond, F.struct("__n", c))).getField(c).alias(c)
    return by_value.groupBy(*keys).agg(
        F.sum(of_m0("__n")).alias("__rows"),
        *[F.sum(of_m0(f"__s_{c}")).alias(f"__s_{c}") for c in measures],
        *[F.sum(of_m0(f"__c_{c}")).alias(f"__c_{c}") for c in measures],
        mode(is_m0, m0), mode(~is_m0, m1))


def traffic_hourly(tomtom: DataFrame, tz: str | None = "America/New_York") -> DataFrame:
    """``batch_tomtom.py`` parity — the hardest batch shape (SURVEY §7.2
    step 5), with the reference's semantics:

    - NY wall-clock date/hour (``batch_tomtom.py:86-88``);
    - per-(date,hour,iconCategory,id) null-domain averages of delay/length
      (filter-then-avg, :94-100), INNER-joined (:104-106): a fine group
      with a NULL key, or whose delays or lengths are ALL null, drops out;
    - fine-level modes of probabilityOfOccurrence and magnitudeOfDelay
      (struct-max, larger-value tie-break, :110-112);
    - the unweighted avg-of-avgs roll-up to (date,hour,iconCategory) with
      rounding applied at the COARSE level only (:115-118), plus the
      mode-of-modes columns (:120-122).

    The reference's five fine-level scans and four joins are one scan
    here: each level is one Expand feeding one aggregate and one roll-up
    (``_two_mode_rollup``), the survivor filter a HAVING on the non-null
    counts. Its ``count(probabilityOfOccurrence)`` never reaches the
    output and is not computed.
    """
    fine_keys = ["date", "hour", "iconCategory", "id"]
    keyed = (with_date_hour(tomtom, "observationTime", tz=tz)
             .dropna(subset=fine_keys))
    fine = (_two_mode_rollup(keyed, fine_keys,
                             ("probabilityOfOccurrence", "magnitudeOfDelay"),
                             ["delay", "length"])
            .where((F.col("__c_delay") > 0) & (F.col("__c_length") > 0))
            .select(*fine_keys,
                    (F.col("__s_delay") / F.col("__c_delay")).alias("avg_delay"),
                    (F.col("__s_length") / F.col("__c_length")).alias("avg_length"),
                    F.col("probabilityOfOccurrence").alias("mode_prob"),
                    F.col("magnitudeOfDelay").alias("mode_mag")))
    coarse_keys = ["date", "hour", "iconCategory"]
    coarse = (_two_mode_rollup(fine, coarse_keys, ("mode_prob", "mode_mag"),
                               ["avg_delay", "avg_length"])
              .select(*coarse_keys,
                      # never NULL: keeps count()'s non-nullable type
                      F.coalesce("__rows", F.lit(0)).alias("n_incidents"),
                      stable_round(F.col("__s_avg_delay") / F.col("__c_avg_delay"),
                                   2).alias("avg_avg_delay"),
                      stable_round(F.col("__s_avg_length") / F.col("__c_avg_length"),
                                   2).alias("avg_avg_length"),
                      F.col("mode_prob").alias("coarse_mode_prob"),
                      F.col("mode_mag").alias("coarse_mode_mag")))
    return sort_by(coarse, coarse_keys)


def corpus_pipeline(docs: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", lang_col: str = "lang",
                    targets: dict[str, float] | None = None,
                    min_tokens: int = 30, max_dup3: float = 0.03,
                    max_top_token: float = 0.15,
                    surprisal_lo: float = 4.9, surprisal_hi: float = 5.2,
                    calibrate_surprisal: bool = False,
                    band_quantiles: tuple[float, float] = (0.1, 0.9),
                    contamination_max: float = 0.05, bench_mod: int = 97,
                    budget: int = 512, num_shards: int = 8) -> DataFrame:
    """The end-to-end training-corpus pipeline as ONE lazy plan —
    normalize → quality gate → digest-windowed exact dedup → 3-gram
    benchmark decontamination → language-mixture rebalance →
    shuffled-epoch sequence packing, composed from the engine's stage
    operators with no driver round-trips between stages (the
    ``corpus_pipeline`` contract query runs this with the default
    fixed thresholds; its oracle chains the stage oracles as CTEs).

    ``calibrate_surprisal=True`` replaces the fixed surprisal band with
    ``corpus.surprisal_band``'s percentiles of THIS corpus's own
    distribution — the production configuration (a fixed band tuned on
    one corpus drops 100% of a different-vocabulary corpus; measured at
    the 10× Zipfian fixture, BENCH_SF1). Calibration is a fit step: one
    extra aggregate action before the lazy plan is assembled.

    The two frames consumed by multiple stages (the normalized corpus;
    the mixture survivors) are lazily checkpointed — the frames a
    production pipeline materializes between stages — so lineage does
    not re-run upstream stages per consumer. Exchange count is bounded
    (PLANS.md): every shuffle is keyed on a digest, the language, or
    the shard, never on raw text or pairs.
    """
    from bda_spadochrony_spark.operators.corpus import (contamination,
                                                        pack_documents,
                                                        quality_gate,
                                                        surprisal_band)
    from bda_spadochrony_spark.operators.sampling import (hash_bucket,
                                                          mixture_sample)
    from bda_spadochrony_spark.operators.text import normalize_text
    from pyspark.sql import Window

    targets = targets or {"en": 0.5, "de": 0.125, "fr": 0.125,
                          "es": 0.125, "zh": 0.125}
    norm = (docs.select(F.col(id_col), F.col(lang_col),
                        normalize_text(text_col).alias("ntext"))
            .localCheckpoint(eager=False))
    if calibrate_surprisal:
        surprisal_lo, surprisal_hi = surprisal_band(
            norm, id_col, "ntext", *band_quantiles)
    gate = quality_gate(norm, id_col, "ntext", min_tokens=min_tokens,
                        max_dup3=max_dup3, max_top_token=max_top_token,
                        surprisal_lo=surprisal_lo,
                        surprisal_hi=surprisal_hi)
    kept = norm.join(gate.where(F.col("keep") == 1).select(id_col),
                     id_col, "left_semi")
    wd = Window.partitionBy(F.xxhash64("ntext")).orderBy(id_col)
    uniq = (kept.withColumn("__rn", F.row_number().over(wd))
            .where(F.col("__rn") == 1).drop("__rn"))
    bench = norm.where(F.col(id_col) % bench_mod == 0)
    corp = uniq.where(F.col(id_col) % bench_mod != 0)
    cont = contamination(corp, bench, id_col, "ntext", shingle_n=3)
    clean = corp.join(cont.where(F.col("contamination") <= contamination_max)
                      .select(id_col), id_col, "left_semi")
    mixed = (mixture_sample(clean, id_col, lang_col, targets)
             .localCheckpoint(eager=False))
    packed = pack_documents(mixed, id_col, "ntext", budget=budget,
                            num_shards=num_shards,
                            order_col=hash_bucket(id_col))
    return (packed.join(mixed.select(id_col, lang_col), id_col)
            .select(id_col, lang_col, "shard", "n_tokens",
                    hash_bucket(id_col).alias("shuffle_key"),
                    "pack_id", "pack_offset"))
