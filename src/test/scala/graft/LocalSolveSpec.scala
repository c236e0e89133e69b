package graft

import graft.api.GraftApi
import graft.operators.{BpeOps, GraphOps, LocalSolve}
import org.apache.spark.sql.DataFrame
import org.scalatest.Assertions
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The regime-equivalence table: both regimes of every size-gated local
  * solve give the same answer. Each row runs one gated op twice — with
  * the [[LocalSolve]] bound at Long.MaxValue (the single-task solve) and
  * at 0 (the distributed fallback) — asserts the two results are equal,
  * then applies the row's own checks to the single-task result. A new
  * gated op adds a row here; the suite named in the row registers it as
  * a test through [[LocalSolveRegimes]], so every row keeps the suite
  * and name it was first written under. */
object LocalSolveSpec {
  import Assertions._
  import TestSpark._
  import spark.implicits._

  def withBound[T](bound: Long)(body: => T): T = {
    spark.conf.set(LocalSolve.MaxRowsKey, bound.toString)
    try body finally spark.conf.unset(LocalSolve.MaxRowsKey)
  }

  final case class Regimes[T](suite: String, name: String, run: () => T,
      check: T => Unit) {
    def verify(): Unit = {
      val local = withBound(Long.MaxValue)(run())
      val distributed = withBound(0L)(run())
      assert(local == distributed,
        s"gated regimes disagree:\n$local\nvs\n$distributed")
      check(local)
    }
  }
  private def regimes[T](suite: String, name: String)(run: => T)(
      check: T => Unit = (_: T) => ()): Regimes[T] =
    Regimes(suite, name, () => run, check)

  def ccLabels(nodes: DataFrame, pairs: DataFrame): Map[Long, Long] =
    GraphOps.connectedComponents(nodes, pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap

  private def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray

  /** BPE merge table and final pieces, plus both frames' dtypes. */
  private def bpe(docs: DataFrame) = {
    val (t, f) = BpeOps.trainChain(docs)
    (t.collect().map(r => (r.getLong(0), r.getString(1),
        r.getString(2), r.getLong(3))).sortBy(_._1).toVector,
      f.collect().map(r => (r.getString(0), r.getLong(1),
        r.getInt(2), r.getString(3))).sorted.toVector,
      t.dtypes.toVector, f.dtypes.toVector)
  }

  val table: Seq[Regimes[_]] = Seq(
    // a >16-hop chain (the fixpoint's hard case) plus arbitrary extras
    regimes("OperatorSpec", "connectedComponents single-task solve and " +
        "distributed fixpoint produce identical labels (long chain + " +
        "random cross-links)") {
      val chain = (5L until 30L).map(i => (i, i + 1))
      val extra = Seq((0L, 3L), (3L, 36L), (38L, 39L), (2L, 2L + 0L))
      ccLabels((0L until 40L).toDF("doc_id"),
        (chain ++ extra).toDF("id1", "id2"))
    } { local =>
      assert(local(29L) == 5L && local(36L) == 0L && local(4L) == 4L)
    },

    // a pair feed built with dedup = false repeats edges in both
    // directions; the gate counts every repeated row the task receives
    regimes("OperatorSpec",
        "connectedComponents regimes agree on duplicated edges") {
      val pairs = Seq((1L, 2L), (1L, 2L), (2L, 1L), (2L, 6L), (2L, 6L),
        (3L, 4L), (4L, 3L), (4L, 3L), (5L, 5L), (5L, 5L))
      ccLabels((0L until 8L).toDF("doc_id"), pairs.toDF("id1", "id2"))
    } { local =>
      assert(local == Map(0L -> 0L, 1L -> 1L, 2L -> 1L, 3L -> 3L,
        4L -> 3L, 5L -> 5L, 6L -> 1L, 7L -> 7L), s"$local")
    },

    // node-for-node and dist-for-dist on the real corpus graph
    regimes("AnalyticsSpec",
        "graph_bfs size-gated local solve and frontier loop agree") {
      SparkEntry.queries("graph_bfs")(spark, sf).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    } { local =>
      assert(local.values.min == 0L && local.values.max <= 6L)
    },

    // pick-for-pick on a multi-query pool with redundancy
    regimes("ApiSpec",
        "mmrRerank size-gated local greedy and relational chain agree") {
      val corpus = Seq(
        (10L, v(0.99, 0, 0, 0)), (11L, v(0.98, 0.01, 0, 0)),
        (12L, v(0, 1.0, 0, 0)), (13L, v(0.5, 0.5, 0.1, 0)),
        (14L, v(0, 0, 1.0, 0)), (15L, v(0.1, 0, 0.9, 0.2))
      ).toDF("vec_id", "embedding")
      val queries = Seq((1L, v(0.8, 0.6, 0, 0)), (2L, v(0, 0.2, 0.98, 0)))
        .toDF("q_id", "q_emb")
      GraftApi.mmrRerank(corpus, queries).collect()
        .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("rank")) ->
          r.getAs[Long]("vec_id")).toMap
    } { local =>
      assert(local.keySet.map(_._1) == Set(1L, 2L))
    },

    // NaN embeddings propagate NaN through every dot; Spark's window
    // ordering ranks NaN as the GREATEST double, so the local greedy
    // must too — a plain `>` loop would skip NaN scores, keep its −1
    // sentinel, and emit a bogus (q_id, −1, rank) row
    regimes("ApiSpec", "mmrRerank regimes agree on NaN-scored candidates") {
      val corpus = Seq(
        (10L, v(0.9, 0.1, 0, 0)), (11L, v(Double.NaN, 0, 0, 0)),
        (12L, v(0, 1.0, 0, 0)), (13L, v(0.4, 0.4, 0.2, 0))
      ).toDF("vec_id", "embedding")
      val queries = Seq((1L, v(0.7, 0.7, 0, 0))).toDF("q_id", "q_emb")
      GraftApi.mmrRerank(corpus, queries).collect()
        .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("rank"),
          r.getAs[Long]("vec_id"))).sorted.toVector
    } { local =>
      assert(!local.exists(_._3 == -1L), s"sentinel id leaked: $local")
    },

    // merge-for-merge and piece-for-piece, including a tie round (both
    // "th" and "e&" patterns collide) and an identical-symbol run
    regimes("BpeSpec",
        "trainChain size-gated local fit and relational rounds agree") {
      bpe(Seq((1L, "the cat sat aaaa"), (2L, "the cat the"),
        (3L, "sat aaaa zz")).toDF("doc_id", "text"))
    }(),

    // the relational pieces0 segments via substr/length, which count
    // CODEPOINTS; a UTF-16 char split would shear supplementary-plane
    // characters into lone surrogates and diverge the regimes' pair
    // counts. 😀 = U+1F600 (two chars, one codepoint); the repeated 😀x
    // bigram forces a merge through it.
    regimes("BpeSpec",
        "gated local fit segments non-BMP text by codepoint like the chain") {
      bpe(Seq((1L, "😀x😀x a"), (2L, "😀x b"), (3L, "a b"))
        .toDF("doc_id", "text"))
    } { local =>
      val pieces = local._2.map(_._4)
      assert(!pieces.exists(p => p.length == 1 && p.charAt(0).isSurrogate),
        s"lone surrogate piece leaked: ${pieces.mkString(",")}")
    }
  )
}

/** Registers the [[LocalSolveSpec.table]] rows owned by this suite. */
trait LocalSolveRegimes extends AnyFunSuite {
  for (r <- LocalSolveSpec.table if r.suite == suiteName)
    test(r.name)(r.verify())
}

/** The gate itself, and the guard that keeps it the only one. */
class LocalSolveSpec extends AnyFunSuite {
  import LocalSolveSpec._
  import TestSpark._
  import spark.implicits._

  test("every regime row is registered by a LocalSolveRegimes suite") {
    val suites = table.map(_.suite).distinct
    assert(suites.toSet ==
      Set("OperatorSpec", "AnalyticsSpec", "ApiSpec", "BpeSpec"))
    suites.foreach { s =>
      assert(classOf[LocalSolveRegimes]
        .isAssignableFrom(Class.forName(s"graft.$s")), s)
    }
  }

  test("LocalSolve runs the solve at or under the bound, the fallback " +
      "above it") {
    val input = Seq(1L, 2L, 3L).toDF("x")
    def regime(bound: Long): Seq[String] = withBound(bound) {
      LocalSolve[Long, String]("probe", input, "r")(
        it => Iterator(s"local:${it.size}"))(
        rows => Seq(s"distributed:$rows").toDF("r"))
        .as[String].collect().toSeq
    }
    assert(regime(3L) == Seq("local:3"))
    assert(regime(2L) == Seq("distributed:3"))
  }

  test("no src/main file but LocalSolve reads a local-solve conf key") {
    // a string literal naming a localSolve*/localFit* key is how a fifth
    // hand-rolled gate would read its own knob
    val keyLiteral = "\"[^\"\\n]*local(Solve|Fit)[^\"\\n]*\"".r
    assert(keyLiteral.findFirstIn(
      "conf.getOption(\"spark.graft.bpe.localFitMaxWords\")").isDefined)
    val main = Paths.get(sys.props("user.dir"), "src", "main")
    assert(Files.isDirectory(main), s"$main not found")
    val files = Files.walk(main).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toList
    val (helper, others) =
      files.partition(_.getFileName.toString == "LocalSolve.scala")
    def hits(p: Path) = keyLiteral.findAllIn(Files.readString(p)).toList
    assert(helper.map(hits) == Seq(List("\"spark.graft.localSolve.maxRows\"")))
    val offenders = others.flatMap(p => hits(p).map(h => s"$p: $h"))
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
