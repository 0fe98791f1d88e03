package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.sinks.{JdbcCopySink, Sinks}
import graft.sources.CleaningCsv

/** One operation of a workload. `build` constructs the frame (for
  * graft this is the `SparkEntry.queries` call, which runs eager
  * materialization and streaming replays); `finish` executes it: a
  * `noop` write for queries and extracts, the sink for loads. */
final case class Op(name: String, kind: String,
    build: () => DataFrame, finish: DataFrame => Unit)

object Op {
  val Query = "query"
  val Extract = "extract"
  val Load = "load"
}

/** A transform-and-load: the sink, the query whose output it loads,
  * the exact frame loaded, and how to read the target back. */
final case class Load(op: Op, sink: String, query: String,
    source: () => DataFrame, readBack: () => DataFrame)

/** `etl` adds the CSV extract and the transform-and-load operations to
  * the query operations. */
final case class Workload(name: String, etl: Boolean, queries: Seq[String])

object Workloads {

  /** Why each exists is recorded in perfbench/README.md. */
  val all: Map[String, Workload] = Seq(
    Workload("etl", etl = true, queries = Seq("q2_analysis_join")),
    Workload("iterative_stream", etl = false,
      queries = Seq("q65_pagerank", "q327_dedup_stream")),
  ).map(w => w.name -> w).toMap

  private def noop(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  def queryOps(spark: SparkSession, w: Workload, dir: String): Seq[Op] =
    w.queries.map { q =>
      Op(q, Op.Query, () => SparkEntry.queries(q)(spark, dir), noop)
    }

  val CsvOptions = CleaningCsv.Options(
    numericCols = Seq("o_totalprice"),
    trimCols = Seq("o_orderstatus"),
    titleCaseCols = Seq("o_orderpriority"))

  def extractOp(spark: SparkSession, dir: String): Op =
    Op("extract_orders_csv", Op.Extract,
      () => CleaningCsv.read(spark, s"$dir/orders_csv", CsvOptions), noop)

  /** What the extract must return for the generated CSV (see
    * run.py's generate_inputs), built from the orders parquet without
    * any CSV parsing. */
  def expectedExtract(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/orders.parquet").select(
      col("o_orderkey").cast("string"), col("o_custkey").cast("string"),
      col("o_orderstatus"),
      when(pmod(col("o_orderkey"), lit(50)) === 0, lit(null).cast("double"))
        .otherwise(col("o_totalprice")).as("o_totalprice"),
      initcap(regexp_replace(col("o_orderpriority"), "-", " ")).as("o_orderpriority"))

  /** The paper's three load paths plus the parquet crosswalk, each
    * computing and loading the query whose output the reference loads
    * that way (the transform runs inside the load's write). JDBC
    * frames are coalesced to at most `cores` partitions: each partition
    * opens one connection. */
  def loads(spark: SparkSession, dir: String, cores: Int, derbyUrl: String,
      targets: String): Seq[Load] = {
    def q(name: String): DataFrame = SparkEntry.queries(name)(spark, dir)
    def jdbc(df: DataFrame): DataFrame = df.coalesce(cores)
    def table(t: String): DataFrame = spark.read.jdbc(derbyUrl, t, new java.util.Properties)
    // election results carry a county; q6's parts get one of 14
    val withCounty = () => q("q6_text_clean")
      .withColumn("county", pmod(col("p_partkey"), lit(14L)))
    val crosswalk = () => q("q5_split_explode")
      .withColumn("bucket", pmod(col("doc_id"), lit(8L)))
    val crosswalkPath = s"$targets/district_town_crosswalk"
    Seq(
      Load(Op("load_q3_jdbc_replace", Op.Load, () => jdbc(q("q3_pivot_wide")),
          df => Sinks.JdbcReplace.write(df, derbyUrl, "SCHOOL_OUTCOMES")),
        "jdbc_replace", "q3_pivot_wide", () => q("q3_pivot_wide"),
        () => table("SCHOOL_OUTCOMES")),
      Load(Op("load_q6_jdbc_keyed", Op.Load, () => jdbc(withCounty()),
          df => Sinks.JdbcKeyedOverwrite.write(df, derbyUrl, "ELECTION_RESULTS", "county")),
        "jdbc_keyed", "q6_text_clean", withCounty, () => table("ELECTION_RESULTS")),
      Load(Op("load_q10_jdbc_copy", Op.Load, () => jdbc(q("q10_coalesce_fill")),
          df => {
            truncate(derbyUrl, "DISTRICT_TOWNS")
            JdbcCopySink.write(df, derbyUrl, "DISTRICT_TOWNS")
          }),
        "jdbc_copy", "q10_coalesce_fill", () => q("q10_coalesce_fill"),
        () => table("DISTRICT_TOWNS")),
      Load(Op("load_q5_parquet_keyed", Op.Load, crosswalk,
          df => Sinks.KeyedOverwriteSink.write(df, crosswalkPath, "bucket")),
        "parquet_keyed", "q5_split_explode", crosswalk,
        () => spark.read.parquet(crosswalkPath)),
    )
  }

  /** The COPY target must exist before the first load: create it empty
    * with the schema Spark's JDBC writer would give it. */
  def createCopyTarget(spark: SparkSession, dir: String, derbyUrl: String): Unit =
    Sinks.JdbcReplace.write(SparkEntry.queries("q10_coalesce_fill")(spark, dir).limit(0),
      derbyUrl, "DISTRICT_TOWNS")

  private def truncate(url: String, table: String): Unit = {
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try st.executeUpdate(s"TRUNCATE TABLE $table") finally st.close()
    } finally conn.close()
  }
}
