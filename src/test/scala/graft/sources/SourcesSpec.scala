package graft.sources

import graft.spark.{ExtractPipeline, SparkTestSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

class SourcesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("htmlFiles: one doc per file, glob-filtered, same triples as the in-memory path") {
    val dir = Files.createTempDirectory("grafthtml")
    val golden = Seq("example1", "example2", "example3")
    golden.foreach { g =>
      val html = Files.readString(Paths.get(s"src/test/resources/golden/$g.html"))
      Files.writeString(dir.resolve(s"$g.html"), html)
    }
    Files.writeString(dir.resolve("ignored.txt"), "not html") // filtered by glob

    val fromFiles = TranscriptSources.htmlFiles(spark, dir.toString)
    assert(fromFiles.count() == 3)
    assert(fromFiles.columns.toSet == Set("conv_id", "turn_idx", "text", "base"))

    // the adapter must feed extraction identically to an equivalent
    // in-memory frame with the same (conv_id = path, text, base) rows
    val asRows = fromFiles.collect()
      .map(r => (r.getString(0), 0, r.getString(2), r.getString(3)))
      .toSeq.toDF("conv_id", "turn_idx", "text", "base")
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.toSeq.map(String.valueOf).mkString("|")).toSet
    val a = key(ExtractPipeline.extract(fromFiles).toDF())
    val b = key(ExtractPipeline.extract(asRows).toDF())
    assert(a == b && a.nonEmpty)
  }

  test("htmlFiles: relative IRIs resolve against the file's own location") {
    val dir = Files.createTempDirectory("grafthtmlbase")
    Files.writeString(dir.resolve("doc.html"),
      """<div itemscope itemtype="http://schema.org/Person"><a itemprop="url" href="about">me</a></div>""")
    val triples = ExtractPipeline.extract(
      TranscriptSources.htmlFiles(spark, dir.toString)).collect()
    val url = triples.find(_.pred == "http://schema.org/url").get.obj_iri
    // binaryFile paths are file: URIs; "about" resolves beside doc.html
    assert(url == s"file:${dir.toString.stripSuffix("/")}/about", url)
  }

  test("jsonlTranscripts: explicit schema, corrupt lines dropped softly, parquet parity") {
    val dir = Files.createTempDirectory("graftjsonl")
    val good = Seq(
      """{"conv_id":"c1","turn_idx":0,"role":"user","text":"<div itemscope itemtype=\"http://schema.org/Person\"><span itemprop=\"name\">Ann</span></div>","tool":null,"ts":"2026-01-01T00:00:00Z"}""",
      """{"conv_id":"c1","turn_idx":1,"role":"assistant","text":"plain turn","tool":"search","ts":"2026-01-01T00:01:00Z"}""",
      """{"conv_id":"c2","turn_idx":0,"role":"user","text":"<div itemscope itemtype=\"http://schema.org/Article\"><span itemprop=\"headline\">H</span></div>","tool":null,"ts":"2026-01-01T00:02:00Z"}""")
    Files.writeString(dir.resolve("part-0.jsonl"),
      (good.take(2) :+ "{not json at all" :+ good(2)).mkString("\n"))

    val df = TranscriptSources.jsonlTranscripts(spark, dir.toString)
    assert(df.count() == 3) // corrupt line dropped, not a task failure
    assert(df.schema.fieldNames.toSeq ==
      Seq("conv_id", "turn_idx", "role", "text", "tool", "ts"))

    // parquet round-trip parity: same rows → same extracted triples
    val pq = dir.resolve("pq").toString
    df.write.parquet(pq)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.toSeq.map(String.valueOf).mkString("|")).toSet
    assert(key(ExtractPipeline.extract(df).toDF()) ==
      key(ExtractPipeline.extract(spark.read.parquet(pq)).toDF()))
    assert(ExtractPipeline.extract(df).count() > 0)
  }

  test("fromSpec: synthetic, html, jsonl and parquet inputs through the one parser") {
    val dir = Files.createTempDirectory("graftspec")
    def nameTypes(df: org.apache.spark.sql.DataFrame) = df.schema.map(f => f.name -> f.dataType)
    val transcript = graft.model.Turn.schema.map(f => f.name -> f.dataType)
    def convs(df: org.apache.spark.sql.DataFrame) = df.select("conv_id").distinct().count()

    // nConvs defaults to nTurns/20
    val synth = TranscriptSources.fromSpec(spark, "synthetic:200")
    assert(synth.count() == 200 && convs(synth) == 10)
    assert(nameTypes(synth) == transcript)
    val synthC = TranscriptSources.fromSpec(spark, "synthetic:200:5")
    assert(synthC.count() == 200 && convs(synthC) == 5)
    assert(nameTypes(synthC) == transcript)

    val html = Files.createDirectory(dir.resolve("html"))
    Seq("example1", "example2").foreach { g =>
      Files.copy(Paths.get(s"src/test/resources/golden/$g.html"), html.resolve(s"$g.html"))
    }
    Files.writeString(html.resolve("notes.txt"), "not html")
    val fromHtml = TranscriptSources.fromSpec(spark, s"html:$html")
    assert(fromHtml.count() == 2)
    assert(nameTypes(fromHtml) == Seq("conv_id" -> org.apache.spark.sql.types.StringType,
      "turn_idx" -> org.apache.spark.sql.types.IntegerType,
      "text" -> org.apache.spark.sql.types.StringType,
      "base" -> org.apache.spark.sql.types.StringType))

    val jsonl = dir.resolve("t.jsonl")
    Files.writeString(jsonl, Seq(
      """{"conv_id":"c1","turn_idx":0,"role":"user","text":"hi","tool":null,"ts":"2026-01-01T00:00:00Z"}""",
      """{"conv_id":"c2","turn_idx":0,"role":"user","text":"yo","tool":null,"ts":"2026-01-01T00:01:00Z"}"""
    ).mkString("\n"))
    val fromJsonl = TranscriptSources.fromSpec(spark, s"jsonl:$jsonl")
    assert(fromJsonl.count() == 2 && nameTypes(fromJsonl) == transcript)

    val pq = dir.resolve("pq").toString
    synthC.write.parquet(pq)
    val fromParquet = TranscriptSources.fromSpec(spark, pq)
    assert(fromParquet.count() == 200 && nameTypes(fromParquet) == transcript)
  }
}
