package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}

/** [[RangeFirst.sorted]] keeps `orderBy`'s global order: every converted
  * id returns the rows its former `.orderBy` form returned, in the same
  * order, and the helper refuses every `narrow` that could lose it. */
class RangeFirstSpec extends AnyFunSuite {
  import TestSpark._

  private val sf01 = Paths.get(sf).resolveSibling("sf0.01").toString

  /** sf0.01's events and documents rewritten out of key order over three
    * files, so a lost sort cannot hide behind a table stored sorted. */
  private lazy val scrambled: String = {
    val dir = Files.createTempDirectory("graft_range_first").toString
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    for ((t, k) <- Seq("events" -> "event_id", "documents" -> "doc_id"))
      spark.read.parquet(s"$sf01/$t.parquet").orderBy(col(k).desc)
        .repartition(3).write.parquet(s"$dir/$t.parquet")
    dir
  }

  /** The converted ids as they were written before the helper: narrow
    * projection first, then a global `orderBy`. */
  private val orderByForm: Map[String, Q.Fn] = Map(
    "fn_csv" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("event_id"),
          expr("to_csv(struct(event_id, user_id, event_type))").as("as_csv"),
          expr("from_csv(concat(event_id, ',', event_type)," +
            " 'id BIGINT, t STRING').t").as("parsed_t"))
        .orderBy("event_id")),
    "fn_try" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("event_id"),
          expr("try_divide(value, user_id % 3)").as("div_guarded"),
          expr("try_cast(event_type AS INT)").as("cast_guarded"),
          expr("try_cast(get_json_object(props, '$.k') AS INT)")
            .as("json_int"))
        .orderBy("event_id")),
    "fn_xml" -> ((s, d) => {
      val payload = concat(lit("<ev><id>"), col("event_id"),
        lit("</id><type>"), col("event_type"), lit("</type><user>"),
        col("user_id"), lit("</user></ev>"))
      Tables.events(s, d)
        .select(col("event_id"), payload.as("xml"))
        .select(col("event_id"),
          expr("from_xml(xml, 'id BIGINT, type STRING, user BIGINT')")
            .as("p"),
          expr("xpath_long(xml, '/ev/user/text()')").as("xp_user"))
        .select(col("event_id"), col("p.type").as("etype"),
          col("p.user").as("uid"), col("xp_user"))
        .orderBy("event_id")
    }),
    "fn_variant" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("event_id"),
          expr("variant_get(parse_json(props), '$.k', 'int')").as("k_int"),
          expr("try_variant_get(parse_json(props), '$.missing', 'string')")
            .as("missing_val"),
          (expr("variant_get(parse_json(props), '$.k', 'int')") * 2)
            .as("k_doubled"))
        .orderBy("event_id")),
    "fn_json" -> ((s, d) =>
      Tables.events(s, d)
        .select(
          col("event_id"),
          get_json_object(col("props"), "$.k").cast(IntegerType).as("k_val"),
          (get_json_object(col("props"), "$.k").cast(IntegerType) % 10)
            .as("k_mod"))
        .orderBy("event_id")),
    "text_fingerprint" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          expr("aggregate(sequence(1, length(text)), 0L, " +
            "(acc, i) -> (acc * 31 + ascii(substr(text, i, 1))) % 1000000007)")
            .as("fingerprint"))
        .orderBy("doc_id")))

  for (id <- orderByForm.keys.toSeq.sorted) {
    test(s"$id returns its orderBy form's rows in the same order at sf0.01") {
      for (dir <- Seq(sf01, scrambled)) {
        val got = SparkEntry.queries(id)(spark, dir)
        val ref = orderByForm(id)(spark, dir)
        assert(got.schema == ref.schema)
        val (g, r) = (got.collect().toSeq, ref.collect().toSeq)
        assert(g.nonEmpty && g.size == r.size, s"row count differs on $dir")
        val at = g.indices.find(i => g(i) != r(i))
        assert(at.isEmpty,
          s"first differing row on $dir: ${at.map(i => (g(i), r(i)))}")
      }
    }
  }

  /** 2000 rows over 8 input partitions: 50 key values with ~40 rows
    * each, plus a null key every 13th row. */
  private def keyed: DataFrame = spark.range(0, 2000, 1, 8)
    .select(when(col("id") % 13 === 0, lit(null)).otherwise(col("id") % 50)
      .as("k"), col("id"))

  private def keysOf(rows: Seq[Row]): Seq[Option[Long]] =
    rows.map(r => Option(r.get(0)).map(_.asInstanceOf[Long]))

  test("null and duplicate keys keep orderBy's order across 4 partitions") {
    val got = RangeFirst.sorted(keyed, "k")(
      _.select(col("k"), col("id"), (col("id") * 2).as("v")))
    val ref = keyed.select(col("k"), col("id"), (col("id") * 2).as("v"))
      .orderBy("k")
    // nulls first, then ascending; ties may come in any order
    assert(keysOf(got.collect().toSeq) == keysOf(ref.collect().toSeq))
    assert(got.collect().sortBy(_.getLong(1)).toSeq ==
      ref.collect().sortBy(_.getLong(1)).toSeq)
    // every partition is sorted and starts at or after the previous
    // one's last key, which is what makes the concatenation global
    val parts = got.rdd.glom().collect().map(p => keysOf(p.toSeq))
    assert(parts.length == 4)
    assert(parts.count(_.nonEmpty) >= 3, parts.map(_.size).mkString(","))
    val flat = parts.flatten.toSeq
    assert(flat == flat.sorted, "partitions not ordered end to end")
  }

  test("filter and generate in narrow keep the order") {
    val narrow = (df: DataFrame) => df.where(col("id") % 3 =!= 0)
      .withColumn("e", explode(array(col("id"), col("id") + 1)))
    val got = RangeFirst.sorted(keyed, "k")(narrow)
    assert(keysOf(got.collect().toSeq) ==
      keysOf(narrow(keyed).orderBy("k").collect().toSeq))
  }

  test("empty input gives an empty, correctly typed result") {
    val empty = spark.range(0).select(col("id").as("k"))
    val got = RangeFirst.sorted(empty, "k")(_.withColumn("v", col("k") + 1))
    assert(got.columns.toSeq == Seq("k", "v"))
    assert(got.collect().isEmpty)
  }

  private def refused(narrow: DataFrame => DataFrame): String =
    intercept[IllegalArgumentException] {
      RangeFirst.sorted(keyed, "k")(narrow)
    }.getMessage

  test("refuses a narrow that renames or recomputes the sort key") {
    for (n <- Seq[DataFrame => DataFrame](
        _.select(col("k").as("k2"), col("id")),
        _.withColumnRenamed("k", "kk"),
        _.drop("k"),
        _.withColumn("k", col("k") * 1),
        _.select((col("k") + 0).as("k"), col("id"))))
      assert(refused(n).contains("sort key k must be a top-level column"))
  }

  test("refuses an aggregate, join or window inside narrow") {
    val other = spark.range(3).select(col("id").as("k2"))
    assert(refused(_.groupBy("k").count()).contains("found Aggregate"))
    assert(refused(_.join(other, col("k") === col("k2")))
      .contains("found Join"))
    assert(refused(_.withColumn("rn",
      row_number().over(Window.partitionBy("k").orderBy("id"))))
      .contains("found Window"))
  }

  test("refuses non-deterministic expressions and subqueries in narrow") {
    assert(refused(_.withColumn("r", rand(1)))
      .contains("non-deterministic projection"))
    assert(refused(_.where(rand(1) > 0.5))
      .contains("non-deterministic filter"))
    val top = spark.range(3).select(max(col("id"))).scalar()
    assert(refused(_.withColumn("m", top)).contains("subquery"))
  }
}
