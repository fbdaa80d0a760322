package graft

import graft.spark.GraftSession
import org.apache.spark.sql.SparkSession

/** Shared scaffold for the spark-submit entry points ([[ExtractMain]],
  * [[IncrementalMain]], [[QueryMain]]): `--key value` / `--flag` parsing
  * and the `--validate` exit contract — one implementation so error
  * behavior and parsing rules cannot drift between them.
  */
private[graft] object CliArgs {

  /** @param flags      keys that take no value (`--validate`)
    * @param repeatKeys keys that may repeat; their values accumulate per
    *                   key, in argument order (`--pattern a --optional b
    *                   --pattern c`)
    * @param required   keys that must be present (checked after parsing)
    */
  def parse(args: Array[String], flags: Set[String] = Set.empty,
            repeatKeys: Set[String] = Set.empty, required: Seq[String] = Nil)
      : (Map[String, String], Map[String, Vector[String]]) = {
    @annotation.tailrec
    def loop(rest: List[String], acc: Map[String, String],
             reps: Map[String, Vector[String]])
        : (Map[String, String], Map[String, Vector[String]]) = rest match {
      case Nil => (acc, reps)
      case k :: tail if k.startsWith("--") && flags.contains(k.drop(2)) =>
        loop(tail, acc + (k.drop(2) -> "true"), reps)
      // a following "--token" is the NEXT option, never this key's value
      // ("--pattern --entail" must not swallow the flag), and a trailing
      // bare key gets a "missing value" error, not "unexpected argument"
      case k :: v :: tail if k.startsWith("--") && !v.startsWith("--") &&
          repeatKeys.contains(k.drop(2)) =>
        val key = k.drop(2)
        loop(tail, acc, reps + (key -> (reps.getOrElse(key, Vector.empty) :+ v)))
      case k :: v :: tail if k.startsWith("--") && !v.startsWith("--") =>
        loop(tail, acc + (k.drop(2) -> v), reps)
      case k :: _ if k.startsWith("--") => sys.error(s"missing value for $k")
      case other :: _ => sys.error(s"unexpected argument: $other")
    }
    val (m, reps) = loop(args.toList, Map.empty, Map.empty)
    required.foreach(k => require(m.contains(k), s"--$k is required"))
    (m, reps)
  }

  /** What `--validate` raises when extraction reported soft errors. */
  final class ValidationFailed(errors: Long)
      extends RuntimeException(s"validate: $errors extraction errors")

  /** `--validate`: once the output is written, any soft extraction error
    * fails the run.
    */
  def checkValidate(opts: Map[String, String], errors: Long): Unit =
    if (opts.contains("validate") && errors > 0) throw new ValidationFailed(errors)

  /** An extracting main's body on [[GraftSession.withSubmitSession]]. A
    * failed `--validate` on the main's own session (spark-submit) exits 2,
    * the CLI contract; on a borrowed session (a harness drove `main`
    * directly) it propagates, reporting the failure WITHOUT killing the
    * host JVM.
    */
  def withExtractSession(body: SparkSession => Unit): Unit =
    GraftSession.withSubmitSession { (spark, owned) =>
      try body(spark)
      catch {
        case e: ValidationFailed if owned =>
          System.err.println(s"[graft] ${e.getMessage}")
          spark.stop()
          sys.exit(2)
      }
    }
}
