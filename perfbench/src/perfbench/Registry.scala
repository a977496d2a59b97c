package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The materialized query registry, timed per query from outside.
  *
  * Each query is built (`SparkEntry.queries(name)(spark, dir)`), planned
  * (its `executedPlan` forced) and executed by writing the full result to
  * Spark's `noop` sink — what a caller gets, not `count()`, which lets
  * Catalyst drop final sorts and unused columns. `exec` is the write's
  * wall time; the write plans its own command, so it repeats the
  * optimizer work `plan` measured.
  */
object Registry {

  /** Registry modules in `SparkEntry` order, with their query names. */
  def modules: Seq[(String, Set[String])] = Seq(
    "Relational" -> graft.queries.Relational.queries.keySet,
    "StatementOps" -> graft.queries.StatementOps.queries.keySet,
    "TrainingData" -> graft.queries.TrainingData.queries.keySet,
    "StreamingOps" -> graft.queries.StreamingOps.queries.keySet,
    "GraphOps" -> graft.queries.GraphOps.queries.keySet,
    "SketchOps" -> graft.queries.SketchOps.queries.keySet)

  /** The fixed subset the benchmark runs: one query per module, among
    * them the store-touching s3_store_roundtrip and queries whose final
    * sort or columns `count()` would drop (ts1_gapfill, d11_substring_dup).
    * A whole-registry pass does not fit the benchmark's per-run time. */
  val Subset: Seq[String] = Seq("ts1_gapfill", "s3_store_roundtrip", "d11_substring_dup",
    "st1_window_agg", "gr4_components", "sk4_hll")

  /** The seed-42 sf0.001 test tables the subset reads, relative to the
    * checkout root the benchmark runs from. */
  val DataDir: String = new java.io.File("perfbench/data/sf0.001").getAbsolutePath

  def moduleOf(q: String): String = modules.find(_._2.contains(q)).map(_._1).get

  final case class Timing(name: String, module: String, buildS: Double, planS: Double, execS: Double)

  def build(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.SparkEntry.queries(name)(spark, dir)

  def timeOne(spark: SparkSession, dir: String, name: String): Timing = {
    val t0 = System.nanoTime()
    val df = build(spark, dir, name)
    val t1 = System.nanoTime()
    df.queryExecution.executedPlan
    val t2 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    val t3 = System.nanoTime()
    spark.catalog.clearCache()
    Timing(name, moduleOf(name), (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9)
  }

  /** Order-insensitive content digest: row count plus two 32-bit lane
    * sums of a per-row xxhash64. Floating-point columns are rounded to 6
    * decimals and nested values hashed through their JSON form, so
    * summation order inside the engine cannot change the digest. */
  def digest(df: DataFrame): String = {
    def norm(f: StructField): Column = f.dataType match {
      case DoubleType | FloatType => round(col(f.name).cast(DoubleType), 6)
      case _: ArrayType | _: MapType | _: StructType => to_json(col(f.name))
      case _ => col(f.name)
    }
    val cols = df.schema.fields.toSeq.map(f => norm(f))
    val h = xxhash64(cols: _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").bitwiseAND(0xffffffffL)),
        sum(shiftrightunsigned(col("h"), 32)))
      .collect()(0)
    val lo = if (r.isNullAt(1)) 0L else r.getLong(1)
    val hi = if (r.isNullAt(2)) 0L else r.getLong(2)
    f"${r.getLong(0)}:$lo%x:$hi%x"
  }

  def digestOf(spark: SparkSession, dir: String, name: String): String = {
    val d = digest(build(spark, dir, name))
    spark.catalog.clearCache()
    d
  }

  /** Expected digests, `{"query": "rows:lo:hi", ...}`. */
  def loadExpected(path: String): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(path))
    root.properties.asScala.map(e => e.getKey -> e.getValue.asText).toMap
  }
}

/** Records the expected digests of the registry subset:
  * `perfbench.RecordDigests <data dir> <out.json>`. Run it on a commit
  * whose registry passes the DuckDB oracle (`tools/check.py`). */
object RecordDigests {
  def main(a: Array[String]): Unit = {
    val spark = Main.session(a(2))
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val o = m.createObjectNode()
    Registry.Subset.foreach(q => o.put(q, Registry.digestOf(spark, a(0), q)))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a(1)),
      m.writerWithDefaultPrettyPrinter().writeValueAsString(o) + "\n")
    spark.stop()
  }
}
