package graft.spark

import org.apache.spark.sql.SparkSession

/** Session factory with the scale-oriented defaults the pipeline assumes:
  * AQE (runtime coalescing + skew-join splitting, the north rule's skew
  * answer for joins), UTC session time (oracle parity), and shuffle
  * partitions sized to the actual core count instead of the 200 default.
  * On a local master, `file:` is bound to [[InProcessLocalFileSystem]]
  * (no forked `chmod` per written file) unless a binding was already set.
  */
object GraftSession {
  private val log = org.slf4j.LoggerFactory.getLogger(getClass.getName.stripSuffix("$"))

  /** Hadoop's own `file:` implementation key, as a Spark conf entry. */
  val FileImplKey = "spark.hadoop.fs.file.impl"

  /** The `file:` binding a session on `master` gets: [[InProcessLocalFileSystem]]
    * for a `local`/`local[…]` master, unless `preset` holds a value the
    * user or spark-submit already set. Cluster masters keep Hadoop's.
    */
  def localFileBinding(master: String, preset: Option[String]): Option[(String, String)] =
    if ((master == "local" || master.startsWith("local[")) && preset.isEmpty)
      Some(FileImplKey -> classOf[InProcessLocalFileSystem].getName)
    else None

  /** [[localFileBinding]] with `preset` read from the system properties
    * (where spark-submit puts `--conf`) and Hadoop's site files; logs the
    * binding it returns.
    */
  private def fileBindingFor(master: String): Option[(String, String)] = {
    val preset = sys.props.get(FileImplKey).orElse(
      Option(new org.apache.hadoop.conf.Configuration().get("fs.file.impl")).filter(_.trim.nonEmpty))
    val binding = localFileBinding(master, preset)
    binding.foreach { case (_, impl) =>
      log.info(s"file: bound to $impl on $master (" +
        (if (InProcessLocalFileSystem.inProcess)
          "libhadoop absent: permissions set in-process instead of one forked chmod per file)"
        else "libhadoop loaded or no unix file attributes: permissions go through Hadoop's own call)"))
    }
    binding
  }

  /** The settings every graft session gets, from [[builder]] and
    * [[fromSubmit]] alike.
    */
  private val Defaults = Seq(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    // static conf: the generated-class cache defaults to 100 entries —
    // a ~55-query suite (3+ codegen stages each) thrashes that LRU, so
    // every repeated run re-compiles its classes and the JVM code cache
    // fills with dead generated code until JIT deoptimizes (measured 13x
    // on the extraction stage when it ran after the full bench loop)
    "spark.sql.codegen.cache.maxEntries" -> "1000")

  def builder(master: String, shufflePartitions: Int): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(master)
      .appName("graft-kg")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config(Defaults.toMap)
      .config("spark.ui.enabled", "false")
    fileBindingFor(master).fold(b) { case (k, v) => b.config(k, v) }
  }

  def local(cpus: Int): SparkSession = {
    val s = builder(s"local[$cpus]", cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Cores for a local session: `SPARK_GRAFT_CPUS`, else the machine's. */
  def localCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The spark-submit mains' session lifecycle: run `body(spark, owned)`
    * on a pre-existing active OR default session if there is one — a
    * harness's or host app's session may live on another thread, and
    * getOrCreate() would return it anyway — and never stop it; otherwise
    * on a [[fromSubmit]] session that is stopped afterwards (`owned`).
    */
  def withSubmitSession[A](body: (SparkSession, Boolean) => A): A = {
    val preexisting =
      SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
    val spark = preexisting.getOrElse(fromSubmit())
    spark.sparkContext.setLogLevel("WARN")
    try body(spark, preexisting.isEmpty)
    finally if (preexisting.isEmpty) spark.stop()
  }

  /** Session for spark-submit entry points. The launcher owns master and any
    * explicitly-passed conf (it sets them as system properties before main
    * runs), so this builder adds only the graft defaults and never overrides
    * a setting the submit command supplied. Shuffle partitions left at
    * Spark's static 200 default are re-sized to the cluster's actual
    * parallelism — the one setting that must track executor count to keep
    * post-shuffle partitions constant-sized as the cluster grows (a 200-part
    * shuffle on a 1000-core cluster idles 80% of it; an explicit
    * `--conf spark.sql.shuffle.partitions=N` still wins).
    */
  def fromSubmit(): SparkSession = {
    val submitted = sys.props.contains("spark.master")
    var b = SparkSession.builder().appName("graft-kg")
      .config(Defaults.filterNot { case (k, _) => sys.props.contains(k) }.toMap)
    if (!submitted) sys.env.get("SPARK_MASTER") match {
      // plain-java launches targeting a cluster set SPARK_MASTER instead of
      // the spark.master system property — honor it rather than silently
      // running local on the driver machine
      case Some(master) => b = b.master(master)
      case None =>
        b = b.master(s"local[$localCpus]")
          .config("spark.sql.shuffle.partitions", localCpus.toString)
          .config("spark.ui.enabled", "false")
    }
    val master = sys.props.get("spark.master").orElse(sys.env.get("SPARK_MASTER"))
      .getOrElse(s"local[$localCpus]")
    fileBindingFor(master).foreach { case (k, v) => b = b.config(k, v) }
    val s = b.getOrCreate()
    val clustered = submitted || sys.env.contains("SPARK_MASTER")
    if (clustered && !sys.props.contains("spark.sql.shuffle.partitions")) {
      // Prefer executor conf over defaultParallelism: right after
      // getOrCreate() on a real cluster NO executors have registered yet,
      // so defaultParallelism reads max(0 cores, 2) = 2 — pinning shuffle
      // partitions to 2 would be far worse than the 200 default (AQE can
      // coalesce partitions but never split them). Conf-derived core count
      // is known before registration; without it, only trust a
      // defaultParallelism that is plausibly real (> 2).
      val conf = s.sparkContext.getConf
      val fromConf = for {
        execs <- conf.getOption("spark.executor.instances").map(_.toInt)
        cores <- conf.getOption("spark.executor.cores").map(_.toInt)
      } yield execs * cores
      fromConf.orElse(Some(s.sparkContext.defaultParallelism).filter(_ > 2))
        .foreach(p => s.conf.set("spark.sql.shuffle.partitions", math.max(p, 1).toString))
    }
    s
  }
}
