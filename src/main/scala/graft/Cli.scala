package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** CLI mirroring the reference's three subcommands
  * (/root/reference/crates/cli/src/cli.rs:44-90):
  *
  *   view URI [-f fmt] [-q SQL] [-l limit] [-p cols]   (cli.rs:56-69)
  *   schema URI [-f fmt] [-p cols]                     (cli.rs:72-79)
  *   execute SQL_FILE                                  (cli.rs:70-71)
  *
  * Contracts reproduced exactly:
  *  - default format Delta (cli.rs:59), default query `select * from tbl`
  *    (cli.rs:61), default limit 50 (cli.rs:63)
  *  - the query is run as "{query} limit {limit}" — a blind suffix
  *    (main.rs:72), reproduced bug-for-bug
  *  - `execute` statement splitter (main.rs:103-137): lines starting with
  *    `--` skipped, statements end only at a line-trailing `;`, and a
  *    trailing statement without `;` still runs
  *  - clean nonzero exit instead of the reference's .expect panics
  *    (SURVEY §2.7)
  */
object Cli {

  def main(args: Array[String]): Unit =
    try run(args.toList)
    catch {
      case NonFatal(e) =>
        System.err.println(s"error: ${e.getMessage}")
        sys.exit(1)
    }

  private def opt(args: List[String], flags: String*): Option[String] =
    args.sliding(2).collectFirst {
      case a :: b :: Nil if flags.contains(a) => b
    }

  def run(args: List[String]): Unit = args match {
    case "view" :: uri :: rest =>
      val ctx = AdtContext.build()
      val fmt = opt(rest, "-f", "--format").getOrElse("delta")
      val query = opt(rest, "-q", "--query").getOrElse("select * from tbl")
      val limit = opt(rest, "-l", "--limit").getOrElse("50").toInt
      registerTbl(ctx, uri, fmt, opt(rest, "-p", "--partition-columns"))
      // blind `limit` suffix — main.rs:72
      println(Output.format(ctx.sql(s"$query limit $limit"), limit))

    case "schema" :: uri :: rest =>
      val ctx = AdtContext.build()
      val fmt = opt(rest, "-f", "--format").getOrElse("delta")
      registerTbl(ctx, uri, fmt, opt(rest, "-p", "--partition-columns"))
      // reference runs `show columns from tbl` (main.rs:99); Spark's
      // equivalent carries name only, so describe for name+type parity
      println(Output.format(ctx.sql("describe tbl").selectExpr(
        "col_name", "data_type")))

    case "execute" :: file :: Nil =>
      val ctx = AdtContext.build()
      splitStatements(
        Files.readAllLines(Paths.get(file), StandardCharsets.UTF_8).asScala.toSeq)
        .foreach { stmt => println(Output.format(ctx.sql(stmt))) }

    case other =>
      throw new IllegalArgumentException(
        s"usage: view|schema|execute ... (got: ${other.mkString(" ")})")
  }

  private def registerTbl(
      ctx: AdtContext, uri: String, fmt: String, parts: Option[String]): Unit = {
    val partClause = parts.map(p => s"PARTITIONED BY ($p) ").getOrElse("")
    ctx.sql(
      s"CREATE EXTERNAL TABLE tbl STORED AS ${fmt.toUpperCase} " +
        s"${partClause}LOCATION '$uri'")
  }

  /** The reference's splitter, line for line (main.rs:107-136): `--`
    * comments only recognized at line START; `;` only at line END. */
  def splitStatements(lines: Seq[String]): Seq[String] = {
    val out = Seq.newBuilder[String]
    var acc = new StringBuilder
    lines.foreach { line =>
      if (!line.startsWith("--")) {
        acc.append(line)
        if (line.trim.endsWith(";")) {
          val s = acc.toString.trim.stripSuffix(";")
          if (s.nonEmpty) out += s
          acc = new StringBuilder
        } else if (line.nonEmpty) acc.append(" ")
      }
    }
    val last = acc.toString.trim
    if (last.nonEmpty) out += last
    out.result()
  }
}
