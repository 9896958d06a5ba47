package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Projection / filter / scalar layer (SURVEY.md §2.3, §2.4, §2.9).
  *
  * Reference behaviors re-expressed over the testdata star schema:
  *  - select w/ aliases + casts      (ref eda/main.py:22-35, infrastructure/stream_inference.py:68-78)
  *  - withColumn + lit provenance    (ref eda/main.py:28)
  *  - withColumnRenamed              (ref ml/train_model.py:132)
  *  - threshold / conjunction filter (ref eda/eda_analysis.py:148-165)
  *  - when/otherwise banding         (ref ml/train_model.py:170-173)
  *
  * Scale notes: all of these are narrow, shuffle-free transforms that
  * stay inside one WholeStageCodegen span; filters and the column
  * subset push down to the parquet scan (verified via
  * `.explain("formatted")` → `PushedFilters`, `ReadSchema`).
  */
object Projections {

  /** Engine-neutral money rounding: floor(x·100 + 0.5)/100. Spark's
    * `round` is decimal-string-based HALF_UP while DuckDB rounds the
    * binary value — they disagree on boundary representations
    * (e.g. 2.675 stored as 2.67499…). floor on identical doubles is
    * bit-deterministic in every engine.
    */
  def moneyRound(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    floor(c * lit(100.0) + lit(0.5)) / lit(100.0)

  /** P1-P4, P6, X6: projection with aliases, casts (long/int/date),
    * computed string column, literal provenance tag, and a rename.
    * `floor` is applied before the int cast because engines disagree
    * on double→int cast rounding (Spark truncates, DuckDB rounds).
    */
  def projectAndCast(li: DataFrame): DataFrame =
    li.select(
        col("l_orderkey").as("okey"),
        col("l_linenumber").cast(LongType).as("lineno"),
        floor(col("l_quantity")).cast(IntegerType).as("qty_floor"),
        col("l_returnflag").as("flag"),
        col("l_shipdate").cast(DateType).as("ship_date"),
        concat_ws("-", col("l_returnflag"), col("l_linestatus")).as("flag_status"))
      .withColumn("src", lit("li"))
      .withColumnRenamed("flag", "returnflag")
      .orderBy("okey", "lineno")

  /** F1+F2: comparison + conjunction filter, mirroring the reference's
    * Light/CO2 threshold rules (eda/eda_analysis.py:148-165).
    */
  def thresholdFilter(li: DataFrame): DataFrame =
    li.filter(col("l_quantity") > lit(30.0) && col("l_discount") <= lit(0.05))
      .select(col("l_orderkey").as("okey"), col("l_linenumber").as("lineno"),
              col("l_quantity").as("qty"), col("l_discount").as("disc"))
      .orderBy("okey", "lineno")

  /** X5+X4+X1: when/otherwise banding with column arithmetic and
    * per-row rounding. Per-row round-to-2 before the sum keeps the
    * aggregate exactly reproducible across engines (the true total is
    * then a multiple of 0.01, far from any rounding boundary).
    */
  def priceBands(li: DataFrame): DataFrame =
    li.withColumn("net",
        moneyRound(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))))
      .withColumn("band",
        when(col("l_extendedprice") < lit(10000.0), lit("low"))
          .when(col("l_extendedprice") < lit(30000.0), lit("mid"))
          .otherwise(lit("high")))
      .groupBy("band")
      .agg(count(lit(1)).as("n"), round(sum("net"), 2).as("net_sum"))
      .orderBy("band")

  /** A6+F1+A1: global aggregate over a filtered subset (occupancy-rate
    * under threshold, eda/eda_analysis.py:149-165).
    */
  def filteredAvg(ev: DataFrame): DataFrame =
    ev.filter(col("event_type") === "click")
      .agg(count(lit(1)).as("n"), round(avg("value"), 4).as("avg_value"))
}
