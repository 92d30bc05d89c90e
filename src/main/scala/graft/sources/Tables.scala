package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Table loaders for the engine.
  *
  * The reference keeps a filesystem-as-catalog of Feather/CSV/SQLite files
  * (reference `scripts/measurements.py:55-87`); here the canonical columnar
  * format is Parquet (SURVEY §2.1 S1), with CSV (S2) and JDBC (S3) readers
  * kept for ingestion parity. At cluster scale every reader benefits from
  * Catalyst filter/column pushdown because loading stays declarative — no
  * eager materialization.
  */
object Tables {

  /** Canonical LOGICAL column types per test table. The r7 events-`ts`
    * regression and the r8 float32-embeddings near-miss were the same
    * bug class: consumers assuming a physical encoding the generator is
    * free to change. This map pins the types the ENGINE computes with;
    * [[load]] conforms a scanned table to it with value-preserving casts
    * — and only where the footer actually differs, so in the common
    * (already-canonical) case the plan is untouched and filter pushdown
    * / column pruning reach the scan exactly as before. Under drift
    * (prices re-encoded DECIMAL(12,2), dimension keys widened to INT64,
    * dates narrowed to DATE) the cast is the honest price: predicates on
    * a re-encoded column no longer push past it, but every downstream
    * expression — including hash-based sampling/sharding, whose results
    * change with operand WIDTH, not just value — computes bit-identically
    * to the canonical generation. `events.ts` is deliberately absent:
    * a long→timestamp cast would misinterpret raw nanoseconds as seconds,
    * so events route through [[loadEvents]]'s footer probe instead.
    * Spec-pinned per variant × consuming query by SchemaDriftSpec.
    */
  private val Canonical: Map[String, Map[String, DataType]] = {
    val lineitem = Map(
      "l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampType)
    Map(
      "lineitem" -> lineitem,
      "orders" -> Map(
        "o_orderkey" -> LongType, "o_custkey" -> LongType,
        "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
        "o_orderdate" -> TimestampType, "o_orderpriority" -> StringType),
      "part" -> Map(
        "p_partkey" -> LongType, "p_name" -> StringType,
        "p_brand" -> StringType, "p_type" -> StringType,
        "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
      "customer" -> Map(
        "c_custkey" -> LongType, "c_name" -> StringType,
        "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
        "c_mktsegment" -> StringType),
      "supplier" -> Map(
        "s_suppkey" -> LongType, "s_name" -> StringType,
        "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
      "nation" -> Map(
        "n_nationkey" -> IntegerType, "n_name" -> StringType,
        "n_regionkey" -> IntegerType),
      "region" -> Map(
        "r_regionkey" -> IntegerType, "r_name" -> StringType),
      "documents" -> Map(
        "doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
        "source" -> StringType, "n_chars" -> LongType))
  }

  /** Cast the columns of `df` that differ from their canonical type;
    * identity (no new plan nodes) when nothing differs.
    */
  private def conform(df: DataFrame, canon: Map[String, DataType]): DataFrame = {
    val needs = df.schema.fields.exists(f =>
      canon.get(f.name).exists(_ != f.dataType))
    if (!needs) df
    else df.select(df.schema.fields.map { f =>
      canon.get(f.name).filter(_ != f.dataType)
        .fold(col(f.name))(t => col(f.name).cast(t).as(f.name))
    }.toIndexedSeq: _*)
  }

  /** Canonical parquet scan: `dir/name.parquet`, conformed to the
    * table's canonical logical schema (see [[Canonical]] — a no-op
    * unless the physical encoding has drifted). Column pruning and
    * predicate pushdown reach the scan automatically. The events table
    * delegates to [[loadEvents]]: its `ts` normalization needs the
    * footer probe, not a cast.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") loadEvents(spark, dir)
    else {
      val df = spark.read.parquet(s"$dir/$name.parquet")
      Canonical.get(name).fold(df)(conform(df, _))
    }

  /** The events table: `ts` normalized to TimestampType whichever
    * generation of the test data is on disk — early generations store
    * raw nanosecond INT64 (illegal for Spark 4's schema inference, so it
    * is forced to long and integer-divided to µs), current ones an
    * annotated µs TIMESTAMP read verbatim. The probe-and-branch lives in
    * [[graft.streaming.EventsStream.readBatch]], shared with the
    * streaming sources so batch and stream can never disagree on units.
    */
  def loadEvents(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.EventsStream.readBatch(spark, s"$dir/events.parquet")

  /** JDBC scan (reference reads SQLite event stores,
    * `scripts/time_resolution_beta_scan.py:213`). `partitionColumn` bounds
    * let Spark parallelize the read instead of a single-threaded pull.
    */
  def loadJdbc(
      spark: SparkSession,
      url: String,
      table: String,
      partitionColumn: Option[(String, Long, Long, Int)] = None): DataFrame = {
    val base = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    partitionColumn match {
      case Some((col, lo, hi, n)) =>
        base
          .option("partitionColumn", col)
          .option("lowerBound", lo.toString)
          .option("upperBound", hi.toString)
          .option("numPartitions", n.toString)
          .load()
      case None => base.load()
    }
  }
}
