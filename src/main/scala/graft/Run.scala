package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One-command product face (VERDICT r17 #7): run any named catalog
  * query against a user-supplied parquet directory without reading
  * SURVEY.md first.
  *
  * {{{
  * java -cp target/scala-2.13/classes:/opt/spark/jars/'*' \
  *   <the build.sbt --add-opens list> \
  *   graft.Run <query-name> --data /path/to/tables [--out DIR] [--show N]
  * java -cp ... graft.Run <query-name> --data DIR --explain   # plan dump
  * java -cp ... graft.Run list [pattern]     # catalog inventory
  * java -cp ... graft.Run entry              # flagship smoke query
  * }}}
  *
  * `--data` must hold the engine's table layout: one parquet file/dir per
  * table name (`region nation customer supplier part orders lineitem
  * events documents embeddings`). With `--out` the result is written as
  * parquet (distributed write — the scale path); otherwise the first
  * `--show` rows (default 20) print to stdout.
  *
  * The same entry point works under spark-submit on a real cluster:
  * `spark-submit --class graft.Run <jar> <query> --data s3://... --out
  * s3://...` — GraftSession.local is only used when no master is set;
  * otherwise GraftSession.submitted adds the engine defaults to the
  * submitted conf.
  */
object Run {

  final case class Args(command: String, data: String, out: Option[String],
    show: Int, explain: Boolean = false)

  private[graft] def parse(argv: Array[String]): Either[String, Args] = {
    if (argv.isEmpty) return Left(usage)
    var data = "/root/testdata/sf0.001"
    var out: Option[String] = None
    var show = 20
    var explain = false
    val positional = scala.collection.mutable.ArrayBuffer[String]()
    var i = 0
    while (i < argv.length) {
      argv(i) match {
        case "--data" if i + 1 < argv.length => data = argv(i + 1); i += 2
        case "--out" if i + 1 < argv.length  => out = Some(argv(i + 1)); i += 2
        case "--show" if i + 1 < argv.length =>
          show = try argv(i + 1).toInt catch { case _: Throwable => return Left(s"--show needs an int, got '${argv(i + 1)}'") }
          i += 2
        case "--explain" => explain = true; i += 1
        case flag if flag.startsWith("--") => return Left(s"unknown flag $flag\n$usage")
        case p => positional += p; i += 1
      }
    }
    positional.toList match {
      case cmd :: Nil => Right(Args(cmd, data, out, show, explain))
      case "list" :: pat :: Nil => Right(Args(s"list:$pat", data, out, show, explain))
      case other => Left(s"expected one query name, got: ${other.mkString(" ")}\n$usage")
    }
  }

  private val usage =
    """usage: graft.Run <query-name> [--data DIR] [--out DIR] [--show N] [--explain]
      |       graft.Run list [pattern]   — print catalog query names
      |       graft.Run entry            — flagship smoke query
      |--explain is the single-query plan dump: it prints the optimized
      |physical plan (explain "formatted": scan pushdowns, join strategies,
      |whole-stage codegen spans) instead of executing. Query names: see
      |`graft.Run list`; data dir must hold the standard parquet tables
      |(region nation customer supplier part orders lineitem events
      |documents embeddings).""".stripMargin

  /** Testable core: resolves and executes, returns the result frame
    * (None for `list`). Session lifecycle stays in main.
    */
  private[graft] def execute(spark: SparkSession, a: Args): Option[DataFrame] =
    a.command match {
      case c if c == "list" || c.startsWith("list:") =>
        val pat = if (c.startsWith("list:")) c.drop(5).toLowerCase else ""
        graft.queries.Catalog.all.map(_.name).sorted
          .filter(_.toLowerCase.contains(pat))
          .foreach(println)
        None
      case "entry" => Some(SparkEntry.entry(spark))
      case name =>
        SparkEntry.queries.get(name) match {
          case Some(fn) => Some(fn(spark, a.data))
          case None =>
            // match on the family letters ("dd99_nope" -> "dd"), not the
            // full numbered prefix, so a typo'd number still gets hints
            val fam = name.takeWhile(_.isLetter)
            val near = SparkEntry.queries.keys.toSeq.sorted
              .filter(n => fam.nonEmpty && n.startsWith(fam)).take(8)
            throw new IllegalArgumentException(
              s"unknown query '$name'" +
                (if (near.nonEmpty) s"; close: ${near.mkString(", ")}" else "") +
                "\nrun `graft.Run list` for the full catalog")
        }
    }

  def main(argv: Array[String]): Unit = parse(argv) match {
    case Left(msg) =>
      System.err.println(msg)
      sys.exit(2)
    case Right(a) =>
      // under spark-submit the master is already set — defer to it;
      // standalone, build the tuned local session sized to the input
      val spark =
        if (sys.props.contains("spark.master")) GraftSession.submitted()
        else GraftSession.local(inputBytes = GraftSession.dirBytes(a.data))
      try execute(spark, a).foreach { df =>
        (a.explain, a.out) match {
          case (true, _) => df.explain("formatted")
          case (_, Some(dir)) =>
            df.write.mode("overwrite").parquet(dir)
            println(s"wrote ${spark.read.parquet(dir).count()} rows to $dir")
          case _ => df.show(a.show, truncate = false)
        }
      } catch {
        case e: IllegalArgumentException =>
          System.err.println(e.getMessage); sys.exit(2)
      } finally spark.stop()
  }
}
