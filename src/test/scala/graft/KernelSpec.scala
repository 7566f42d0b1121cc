package graft

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.{call_function, col, lit}
import org.apache.spark.sql.types.{StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{GraftFunctions, Kernel}

/** Table-driven check over every row of [[GraftFunctions.kernels]]:
  *  - NULL in any one argument, column or literal, gives NULL out;
  *  - interpreted eval (a `newSession()` child with whole-stage codegen
  *    off and the expression factory in NO_CODEGEN mode) returns what
  *    generated code returns, so a row's two names for its kernel (the
  *    Java method and the Scala function) cannot drift apart.
  * Column arguments arrive through an RDD, which the optimizer cannot
  * see into: a literal-only call would be constant-folded by interpreted
  * eval in both sessions and check nothing.
  */
class KernelSpec extends AnyFunSuite {
  import SparkTestSession._

  private val prose = "the quick brown fox jumps over the lazy dog " * 6
  private val html = "<p>the quick brown fox jumps over a dog</p>" +
    "<script>var x = 1;</script><div><a href=x>link</a> of</div>"

  /** Argument lists per function, one call each, in the row's order. */
  private val fixtures: Map[String, Seq[Seq[Any]]] = Map(
    "rolling_hash" -> Seq(Seq("hello world"), Seq(""), Seq("héllo 😀")),
    "simhash64" -> Seq(Seq(Seq("the", "quick", "brown", null)), Seq(Seq())),
    "minhash64" -> Seq(Seq(Seq("a", "b", "c"), 16), Seq(Seq(), 64)),
    "word_shingles" -> Seq(Seq(Seq("a", "b", "a", "b", "c"), 2), Seq(Seq("a"), 3)),
    "char_grams" -> Seq(Seq("abcabc", 3), Seq("héllo", 2), Seq("ab", 3)),
    "cdc_cuts" -> Seq(Seq(prose, 8), Seq("héllo wörld 中文 " * 8, 8), Seq("short", 8)),
    "max_run_count" -> Seq(Seq(Seq("a", "b", "a", null)), Seq(Seq())),
    "greedy_token_count" -> Seq(Seq("the table sort stream"), Seq("中文 😀")),
    "bpe_token_count" -> Seq(Seq("the star table batch"), Seq("")),
    "html_extract" -> Seq(Seq(html), Seq("")),
    "cosine_sim" -> Seq(Seq(Seq(1.0, 2.0, 3.0), Seq(3.0, 2.0, 1.0)),
      Seq(Seq(0.0), Seq(1.0))),
    "dot_product" -> Seq(Seq(Seq(1.0, 2.0, 3.0), Seq(3.0, -2.0, 0.5))),
    "hyperplane_bands" -> Seq(Seq(Seq(0.5, -1.0, 2.0, 0.25), 4, 8, 42L)))

  /** One call per `nullOnNullElement` row with a NULL array element. */
  private val nullElement: Map[String, Seq[Any]] = Map(
    "cosine_sim" -> Seq(Seq(1.0, null), Seq(1.0, 1.0)),
    "dot_product" -> Seq(Seq(1.0, 1.0), Seq(null, 1.0)),
    "hyperplane_bands" -> Seq(Seq(0.5, null, 2.0, 0.25), 4, 8, 42L),
    "word_shingles" -> Seq(Seq("x", null, "y", "z"), 2))

  private lazy val interpreted: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.codegen.wholeStage", "false")
    s.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    s
  }

  /** One call of `k` in `s`: its value and the executed plan. */
  private def call(s: SparkSession, k: Kernel, args: Seq[Any]): (Any, String) = {
    val indexed = k.args.zip(args).zipWithIndex
    val cols = indexed.collect { case ((a, v), i) if a.range.isEmpty =>
      StructField(s"a$i", a.dataType) -> v
    }
    val df = s.createDataFrame(
      s.sparkContext.parallelize(Seq(Row.fromSeq(cols.map(_._2))), 1),
      StructType(cols.map(_._1)))
    val q = df.select(call_function(k.name, indexed.map {
      case ((a, _), i) if a.range.isEmpty => col(s"a$i")
      case ((_, v), _) => lit(v)
    }: _*))
    (q.head().get(0), q.queryExecution.executedPlan.toString)
  }

  test("every native function has kernel fixtures") {
    assert(fixtures.keySet == GraftFunctions.names.toSet)
  }

  test("a NULL array element gives NULL out where the row says so") {
    assert(nullElement.keySet ==
      GraftFunctions.kernels.filter(_.nullOnNullElement).map(_.name).toSet)
    GraftFunctions.kernels.filter(_.nullOnNullElement).foreach { k =>
      val args = nullElement(k.name)
      assert(call(spark, k, args)._1 == null, s"codegen ${k.name}$args")
      assert(call(interpreted, k, args)._1 == null, s"interpreted ${k.name}$args")
    }
  }

  GraftFunctions.kernels.foreach { k =>
    test(s"${k.name}: NULL in gives NULL out; interpreted eval equals codegen") {
      fixtures(k.name).foreach { args =>
        val (want, plan) = call(spark, k, args)
        val (got, iplan) = call(interpreted, k, args)
        assert(plan.contains("*("), s"not codegen'd:\n$plan")
        assert(!iplan.contains("*("), s"not interpreted:\n$iplan")
        assert(want != null, s"${k.name}$args")
        assert(got == want, s"${k.name}$args: interpreted $got, codegen $want")
      }
      val base = fixtures(k.name).head
      base.indices.foreach { i =>
        val args = base.updated(i, null)
        assert(call(spark, k, args)._1 == null, s"codegen ${k.name}$args")
        assert(call(interpreted, k, args)._1 == null, s"interpreted ${k.name}$args")
      }
    }
  }
}
