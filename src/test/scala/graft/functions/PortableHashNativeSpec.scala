package graft.functions

import graft.ops.PortableHash
import graft.spark.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Parity of the native CharFold / LshProj codegen expressions against the
  * composable higher-order forms they replaced (kept in [[LegacyForms]] as
  * the documented-semantics reference). The probabilistic
  * ops' oracle gates depend on these hashes bit-for-bit, so the native
  * twins must agree on EVERY input class: ASCII, BMP unicode, astral
  * (surrogate-pair) text, empty and null strings; float/double arrays,
  * null elements, empty arrays, every hyperplane index.
  */
class PortableHashNativeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  val torture: Seq[String] = Seq(
    "", "a", "hello world", "the quick brown fox", "key-123-4",
    "café touché", "中文分词", "über maß",
    "mixed é中 ascii", "😀", "a😀b",
    "😀💩 twice", "tab\tnew\nline", "  spaces  ",
    "zero\u0000byte", "high ￿ bmp", "a" * 500)

  test("CharFold matches the composable split/ascii fold on every input class") {
    val df = (torture.map(Option(_)) :+ None).toDF("s")
    for ((mult, p) <- Seq((31L, PortableHash.TokenP), (31L, PortableHash.P31),
        (37L, PortableHash.P31b), (31L, PortableHash.FingerprintP))) {
      val out = df.select(
        CharFold(col("s"), mult, p).as("native"),
        LegacyForms.charFoldLegacy(col("s"), mult, p).as("legacy"))
      assert(out.filter(!($"native" <=> $"legacy")).count() == 0,
        s"CharFold($mult, $p) diverged from the composable form")
    }
  }

  test("CharFold participates in whole-stage codegen") {
    // parquet scan, not a LocalRelation: local tables skip codegen stages
    val q = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(CharFold(col("text"), 31L, PortableHash.P31).as("h"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l => l.contains("char_fold") && l.trim.startsWith("*(")))
    assert(q.count() > 0)
  }

  test("LshProj matches the composable transform/aggregate projection, all tables") {
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .withColumn("k", explode(array((0 until 32).map(lit(_)): _*)))
      .select(col("embedding"), col("k").cast("long").as("k"))
    val out = embs.select(
      LshProj(col("embedding"), col("k")).as("native"),
      LegacyForms.lshProjLegacy(col("embedding"), col("k")).as("legacy"))
    assert(out.count() > 0)
    assert(out.filter(!($"native" <=> $"legacy")).count() == 0)
  }

  test("WordGrams matches the composable slice/concat_ws window form") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(split(col("text"), " ").as("t"))
      .unionByName(Seq(
        Seq("a"), Seq("a", "b"), Seq("a", "b", "c"), Seq.empty[String],
        Seq("x", "", "y", ""), Seq("solo token list", "two")).toDF("t"))
      .unionByName(Seq(Option.empty[Seq[String]]).toDF("t"))
    for (n <- Seq(2, 3, 5)) {
      val out = docs.select(
        graft.functions.WordGrams(col("t"), n).as("native"),
        LegacyForms.gramWindowsLegacy(col("t"), n).as("legacy"))
      assert(out.filter(!($"native" <=> $"legacy")).count() == 0,
        s"WordGrams($n) diverged from the composable form")
    }
  }

  test("WordGrams participates in whole-stage codegen") {
    val q = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(graft.functions.WordGrams(split(col("text"), " "), 3).as("g"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l => l.contains("word_grams") && l.trim.startsWith("*(")))
    assert(q.count() > 0)
  }

  test("LshProj degenerate inputs: null array, null element, empty array") {
    val df = Seq(
      (Some(Seq(Some(1.0f), Some(2.0f))), 3L),
      (Some(Seq(Some(1.0f), None)), 3L),
      (Some(Seq.empty[Option[Float]]), 7L),
      (None, 5L)).toDF("emb", "k")
    val out = df.select(
      LshProj(col("emb"), col("k")).as("native"),
      LegacyForms.lshProjLegacy(col("emb"), col("k")).as("legacy"))
    assert(out.filter(!($"native" <=> $"legacy")).count() == 0)
    // empty array folds to 0.0; null array / null element are NULL
    val rows = out.select("native").collect().map(r => Option(r.get(0)))
    assert(rows(2).contains(0.0) && rows(1).isEmpty && rows(3).isEmpty)
  }
}
