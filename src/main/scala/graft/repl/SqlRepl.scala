package graft.repl

import scala.io.StdIn

import org.apache.spark.sql.SparkSession

/** SQL console over the graft catalog — the analog of the reference's
  * jline REPL (`HBaseSQLClient.scala:31-100`): `;`-terminated statements
  * with multi-line continuation, `EXIT;` quits, everything else runs
  * through `spark.sql(...).show(30)`. Interactive sessions get FULL jline3
  * line editing — cursor movement, in-line edits, arrow-key history,
  * Ctrl-R search — via the jline shipped in Spark's own jar directory (no
  * extra dependency); non-terminal input (pipes, tests) falls back to a
  * plain stdin loop. Statement history persists to `~/.graft_history`
  * across sessions (the reference's jline `FileHistory`,
  * `HBaseSQLClient.scala:36-46`), and `!n` / `!!` / `!prefix` recall works
  * in both modes.
  *
  * Usage: `scripts/run.sh graft.repl.SqlRepl [warehouseDir]`
  */
object SqlRepl {

  /** One read from the console: a line, end-of-input, or Ctrl-C (which
    * must abort the PENDING multi-line statement, not just the line —
    * otherwise the next statement typed concatenates onto the abandoned
    * one). */
  sealed trait ReadResult
  final case class Line(text: String) extends ReadResult
  case object Eof extends ReadResult
  case object Interrupted extends ReadResult

  /** Prompt-and-read abstraction: jline3 when a terminal is available,
    * plain stdin otherwise. */
  trait LineSource { def readLine(prompt: String): ReadResult; def close(): Unit }

  /** jline3-backed editing: the LineReader owns cursor editing and
    * arrow-key history (persisted separately from the statement history —
    * jline records individual LINES, `History` records whole statements). */
  final class JLineSource(histPath: java.nio.file.Path,
      terminal: org.jline.terminal.Terminal) extends LineSource {
    def this(histPath: java.nio.file.Path) =
      this(histPath, org.jline.terminal.TerminalBuilder.builder().system(true).build())
    private val reader = org.jline.reader.LineReaderBuilder.builder()
      .terminal(terminal)
      .variable(org.jline.reader.LineReader.HISTORY_FILE, histPath)
      .build()
    def readLine(prompt: String): ReadResult =
      try Line(reader.readLine(prompt))
      catch {
        case _: org.jline.reader.EndOfFileException => Eof
        case _: org.jline.reader.UserInterruptException => Interrupted
      }
    def close(): Unit = terminal.close()
  }

  final class StdInSource extends LineSource {
    def readLine(prompt: String): ReadResult = {
      print(prompt); Console.flush()
      StdIn.readLine() match {
        case null => Eof
        case l => Line(l)
      }
    }
    def close(): Unit = ()
  }

  /** Persistent statement history: one statement per line (embedded
    * newlines escaped), newest-last, capped. */
  final class History(path: java.nio.file.Path, cap: Int = 500) {
    private def esc(s: String): String =
      s.replace("\\", "\\\\").replace("\n", "\\n")
    private def unesc(s: String): String = {
      val sb = new StringBuilder
      var i = 0
      while (i < s.length) {
        if (s.charAt(i) == '\\' && i + 1 < s.length) {
          sb.append(if (s.charAt(i + 1) == 'n') '\n' else s.charAt(i + 1)); i += 2
        } else { sb.append(s.charAt(i)); i += 1 }
      }
      sb.toString
    }

    def load(): Seq[String] =
      if (java.nio.file.Files.exists(path))
        new String(java.nio.file.Files.readAllBytes(path), "UTF-8")
          .linesIterator.filter(_.nonEmpty).map(unesc).toSeq
      else Seq.empty

    def append(statement: String): Unit = {
      val all = (load() :+ statement.trim).takeRight(cap)
      java.nio.file.Files.write(path,
        all.map(esc).mkString("", "\n", "\n").getBytes("UTF-8"))
    }
  }

  def defaultHistory(): History =
    new History(java.nio.file.Paths.get(
      sys.props.getOrElse("user.home", "/tmp"), ".graft_history"))

  /** Statement-level history recall, usable even from pipes where the
    * arrow keys don't exist: `!n` → statement n (1-based, as printed by
    * `HISTORY;`), `!!` → most recent, `!prefix` → most recent statement
    * starting with the prefix. Returns None for an out-of-range/unmatched
    * designator. */
  def recall(entries: Seq[String], designator: String): Option[String] = {
    val d = designator.trim.stripSuffix(";").trim
    if (d == "!!") entries.lastOption
    else if (d.startsWith("!") && d.length > 1) {
      val body = d.substring(1)
      if (body.forall(_.isDigit))
        // toIntOption: a designator past Int.MaxValue is "no match", not
        // a NumberFormatException that would kill the whole REPL loop
        body.toIntOption.flatMap(n => entries.lift(n - 1))
      else
        entries.reverseIterator
          .find(e => e.trim.toLowerCase.startsWith(body.toLowerCase))
    } else None
  }

  /** Process one complete statement; returns false on EXIT. */
  def process(spark: SparkSession, statement: String): Boolean = {
    val stmt = statement.trim.stripSuffix(";").trim
    if (stmt.isEmpty) true
    else if (stmt.equalsIgnoreCase("exit") || stmt.equalsIgnoreCase("quit")) false
    else {
      try spark.sql(stmt).show(30, truncate = false)
      catch { case e: Exception => Console.err.println(s"error: ${e.getMessage}") }
      true
    }
  }

  def main(args: Array[String]): Unit = {
    val warehouse = args.headOption
      .getOrElse(sys.props("java.io.tmpdir") + "/graft_warehouse")
    val spark = graft.GraftSession.create(
      "spark.app.name" -> "graft-sql",
      "spark.sql.catalog.graft" -> "graft.sources.GraftCatalog",
      "spark.sql.catalog.graft.warehouse" -> warehouse,
      "spark.sql.defaultCatalog" -> "graft")

    println(s"graft SQL console (warehouse: $warehouse); statements end with ';', EXIT; quits.")
    val history = defaultHistory()
    // jline needs a real terminal; pipes/redirects (and GRAFT_REPL_PLAIN=1)
    // use the plain loop — statement semantics are identical in both
    val source: LineSource =
      if (sys.env.contains("GRAFT_REPL_PLAIN") || System.console() == null)
        new StdInSource
      else
        try new JLineSource(java.nio.file.Paths.get(
          sys.props.getOrElse("user.home", "/tmp"), ".graft_jline_history"))
        catch { case _: Throwable => new StdInSource }
    val buf = new StringBuilder
    var continue = true
    while (continue) {
      val line = source.readLine(if (buf.isEmpty) "graft> " else "     | ") match {
        case Eof => continue = false; null
        case Interrupted =>
          // Ctrl-C: throw away the pending statement, fresh prompt
          if (buf.nonEmpty) { buf.clear(); println("(statement aborted)") }
          null
        case Line(l) => l
      }
      if (line != null) {
        buf.append(line).append('\n')
        if (line.trim.endsWith(";")) {
          val raw = buf.toString
          buf.clear()
          val trimmed = raw.trim.stripSuffix(";").trim
          if (trimmed.equalsIgnoreCase("history")) {
            val entries = history.load()
            entries.zipWithIndex.foreach { case (e, i) =>
              println(f"${i + 1}%4d  ${e.replace("\n", " ")}")
            }
          } else {
            val stmt =
              if (trimmed.startsWith("!"))
                recall(history.load(), trimmed) match {
                  case Some(prev) => println(prev.trim); prev
                  case None =>
                    Console.err.println(s"error: no history match for $trimmed")
                    ""
                }
              else raw
            if (stmt.nonEmpty) {
              try history.append(stmt) catch { case _: Exception => () }
              continue = process(spark, stmt)
            }
          }
        }
      }
    }
    source.close()
    spark.stop()
  }
}
