package graft

import graft.spark.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** The `--validate` contract of the extracting mains on a borrowed session:
  * soft extraction errors fail the run by throwing (the host JVM lives);
  * without `--validate` the same input completes. (On its own session
  * under spark-submit, the same failure exits 2.)
  */
class ValidateExitSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** One turn whose item has a relative itemid: one `--validate-uris` error. */
  private def input(): String = {
    val dir = Files.createTempDirectory("graft_validate_").toString + "/turns"
    Seq(("c1", 0, """<div itemscope itemtype="http://schema.org/Person" itemid="people/1"><span itemprop="name">Ann</span></div>"""))
      .toDF("conv_id", "turn_idx", "text").write.parquet(dir)
    dir
  }
  private def tmp(name: String) = Files.createTempDirectory(name).toString

  test("ExtractMain --validate throws on a borrowed session; without it the run completes") {
    val in = input()
    val args = Array("--input", in, "--buckets", "2", "--validate-uris")
    val e = intercept[RuntimeException](
      ExtractMain.main(args ++ Array("--output", tmp("graft_em_v"), "--validate")))
    assert(e.getMessage == "validate: 1 extraction errors")
    assert(!spark.sparkContext.isStopped, "borrowed session must survive main()")
    val out = tmp("graft_em")
    ExtractMain.main(args ++ Array("--output", out))
    assert(spark.read.parquet(out).count() == 2L) // rdf:type and name
  }

  test("IncrementalMain --validate throws on a borrowed session; without it the run completes") {
    val in = input()
    val e = intercept[RuntimeException](IncrementalMain.main(Array(
      "--root", tmp("graft_im_v"), "--input", in, "--validate-uris", "--validate")))
    assert(e.getMessage == "validate: 1 extraction errors")
    assert(!spark.sparkContext.isStopped, "borrowed session must survive main()")
    val s = IncrementalMain.run(Map("root" -> tmp("graft_im"), "input" -> in,
      "validate-uris" -> "true"), spark)
    assert(s.newTriples == 2L)
  }
}
