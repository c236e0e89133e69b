package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** A registered query: (session, scale-factor dir) => lazy DataFrame.
  * Contract: no eager work at construction (no actions, no lingering
  * .cache) — graft.Bench times the terminal .count() and graft.Verify
  * writes the result once (SURVEY.md §3 EP2/EP3). Sanctioned carve-outs,
  * each amortized or bounded and documented at the call site:
  *  - sink_* queries write eagerly — the write IS the operator under test;
  *  - Fixtures side files / bucketed tables are one-time, fingerprinted
  *    staging shared across queries (their cost lands on the first query
  *    that needs them — noted in BASELINE.md);
  *  - model fits (sim_ivf_topk k-means on a bounded sample) and iterative
  *    fixpoints (GraphOps connected components, localCheckpoint'ed
  *    keep-list) are inherently driver-stepped algorithms; neither leaves
  *    a corpus-sized cache behind.
  */
object Q { type Fn = (SparkSession, String) => DataFrame }

/** Range-first terminal sort: `narrow(in).orderBy(keys)` with the range
  * exchange moved below `narrow`. A global sort's RangePartitioner runs
  * one sampling job over everything below the exchange and then its map
  * stage runs the same chain again; over a one-row-group corpus table
  * both are single-task stages. Here the sampler and the map stage read
  * only `in`, and `narrow` runs once, after the exchange, in
  * `spark.sql.shuffle.partitions` tasks (an explicit partition count,
  * which AQE never coalesces). The result has `orderBy`'s global order —
  * ascending, nulls first, ties in no fixed order — because `narrow`
  * only projects, filters or generates rows within a partition and
  * passes every key through as the same attribute. Both are checked
  * here, on the analyzed plans, so a call that would lose the order is
  * refused when the DataFrame is built; nothing is executed.
  * `keys` are top-level column names of `in`. */
object RangeFirst {
  import org.apache.spark.sql.catalyst.expressions.{Attribute, SubqueryExpression}
  import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate, LogicalPlan, Project}
  import org.apache.spark.sql.internal.SQLConf

  def sorted(in: DataFrame, keys: String*)(
      narrow: DataFrame => DataFrame): DataFrame = {
    val parts = in.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val ranged = in.repartitionByRange(parts, keys.map(in.col): _*)
    val base = ranged.queryExecution.analyzed
    val out = narrow(ranged)
    val top = out.queryExecution.analyzed

    def perRow(p: LogicalPlan): Unit = if (p != base) {
      val (kind, exprs, child) = p match {
        case Project(list, c) => ("projection", list, c)
        case Filter(cond, c) => ("filter", Seq(cond), c)
        case g: Generate => ("generator", Seq(g.generator), g.child)
        case other => throw new IllegalArgumentException(
          s"RangeFirst.sorted: narrow may only project, filter or " +
            s"generate per row, found ${other.nodeName}")
      }
      require(exprs.forall(_.deterministic),
        s"RangeFirst.sorted: non-deterministic $kind in narrow")
      // the optimizer rewrites subqueries into joins, which may shuffle
      require(!exprs.exists(_.exists(_.isInstanceOf[SubqueryExpression])),
        s"RangeFirst.sorted: subquery in narrow's $kind")
      perRow(child)
    }
    perRow(top)

    val resolver = SQLConf.get.resolver
    keys.foreach { k =>
      val given = base.resolveQuoted(k, resolver).collect {
        case a: Attribute => a.exprId }
      require(given.isDefined &&
        top.resolveQuoted(k, resolver).map(_.exprId) == given,
        s"RangeFirst.sorted: sort key $k must be a top-level column of " +
          "in that narrow passes through unchanged")
    }
    out.sortWithinPartitions(keys.map(out.col): _*)
  }
}

/** One module per operator family (SURVEY.md §2). SparkEntry merges them. */
trait QueryModule {
  /** query-id -> query fn. Ids are the scoreboard identifiers — stable. */
  def queries: Map[String, Q.Fn]
  /** query-id -> equivalent DuckDB SQL over bare table names
    * (`lineitem`, `orders`, ...). Omit ids that are not SQL-expressible —
    * the driver then records a weaker rows-only check. */
  def oracles: Map[String, String]
}

/** Typed loaders for the driver-generated parquet tables (TESTDATA.md).
  * Schemas documented in FIXTURES.md; the parquet footer is the source of
  * truth, so plain spark.read.parquet is correct and keeps predicate
  * pushdown + column pruning intact (no schema-merge cost).
  */
object Tables {
  /** Read a corpus table, normalizing every TIMESTAMP_NTZ column to the
    * session-TZ TimestampType. The testdata generator has shipped
    * timestamps both as isAdjustedToUTC=true (round ≤ 5) and as
    * NTZ micros (round 6 regeneration); the engine standardizes on
    * TimestampType so plans, function semantics (unix_timestamp, window
    * range frames) and Verify's written schemas stay identical across
    * generations. Value-preserving: every session pins
    * spark.sql.session.timeZone=UTC. */
  /** Resolved-relation memo, keyed by (session, dir, table): every
    * `spark.read.parquet` re-lists the path and re-reads footers (a
    * small driver job per call), and a 355-query drive resolves the
    * same ten files hundreds of times. Reusing the ANALYZED plan is
    * metadata reuse only (guide §6 file-listing caching) — no rows are
    * cached and every action still computes from the parquet bytes.
    * Boundary: same per-JVM path-keyed contract as the model-fit
    * caches (ivfCache) — the harness regenerates testdata only between
    * JVMs; tests use fresh temp dirs. Sessions are few and long-lived
    * (driver + the extension sibling), so the strong key cannot leak
    * meaningfully. */
  private val relCache = scala.collection.concurrent.TrieMap[
    (SparkSession, String, String), DataFrame]()
  private[graft] def t(spark: SparkSession, sfDir: String, name: String): DataFrame =
    relCache.getOrElseUpdate((spark, sfDir, name), {
      val df = spark.read.parquet(s"$sfDir/$name.parquet")
      df.schema.fields.collect {
        case f if f.dataType == TimestampNTZType => f.name
      }.foldLeft(df)((acc, c) =>
        acc.withColumn(c, col(c).cast(TimestampType)))
    })
  def region(s: SparkSession, d: String): DataFrame = t(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = t(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = t(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = t(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = t(s, d, "lineitem")

  /** events.ts additionally shipped once as parquet TIMESTAMP(NANOS),
    * which Spark 4 refuses to read directly (PARQUET_TYPE_ILLEGAL): the
    * legacy conf surfaces it as a nanos long, floor-divided here to µs —
    * exactly the ns→µs truncation DuckDB applies (FIXTURES.md
    * events.ts). Micros generations pass through `t`'s NTZ
    * normalization untouched. */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = t(s, d, "events")
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => df
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")
}

/** Determinism helpers for oracle-compared queries (SURVEY.md §5.3).
  *
  * Raw double SUM/AVG is partial-aggregation-order sensitive, so results
  * drift in the last ulp between Spark and DuckDB. All generated money /
  * quantity doubles carry <= 2 decimal digits (FIXTURES.md), so casting to
  * DECIMAL is lossless; decimal addition is exact and therefore
  * order-insensitive. The final value is cast back to double so the output
  * schema matches DuckDB's (whose DECIMAL widths differ from Spark's).
  *
  * At 100 TB this stays correct: decimal sums are still exact under
  * arbitrary partial/final aggregation splits across executors.
  */
/** Context for GENERATED oracles whose SQL embeds corpus-fitted literals
  * (vec_pca_project's axes). The driver contract compares at one fixed
  * sf dir; Verify sets this to its actual sfDir before dumping
  * oracle_sql.json so the fit and the compare always see the same
  * corpus, even if the driver's sf ever changes. */
object OracleCtx {
  @volatile var sfDir: String = "/root/testdata/sf0.01"
}

object Det {
  def dec2(c: Column): Column = c.cast(DecimalType(18, 2))
  /** products of two 2-dp values are exact at 4 dp */
  def dec4(c: Column): Column = c.cast(DecimalType(22, 4))
  /** products of three 2-dp values are exact at 6 dp */
  def dec6(c: Column): Column = c.cast(DecimalType(26, 6))
  def dsum(c: Column): Column = sum(dec2(c)).cast(DoubleType)
  def dsum4(c: Column): Column = sum(dec4(c)).cast(DoubleType)
  def dsum6(c: Column): Column = sum(dec6(c)).cast(DoubleType)
  /** exact decimal sum, divided in double space — bit-identical on both
    * engines because both divide the same two exactly-determined doubles. */
  def davg(c: Column): Column = sum(dec2(c)).cast(DoubleType) / count(lit(1))

  /** deterministic uniform in (0, 1) from a key: the first 32 md5 bits,
    * centered (+0.5) and scaled — pure integer arithmetic everywhere, no
    * RNG, so it is identical across engines, retries and layouts. The
    * DuckDB twin is `(CAST('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 8)
    * AS UBIGINT) + 0.5) / 4294967296.0`. Shared by sample_weighted's
    * reservoir keys and pipeline_upweight's stochastic-rounding coin. */
  def md5Uniform(key: Column): Column =
    (conv(substring(md5(key.cast(StringType)), 1, 8), 16, 10)
      .cast(DoubleType) + lit(0.5)) / lit(4294967296.0)
}
