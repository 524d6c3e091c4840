package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.plans.Events

/** D1/D2 — change-data-capture between two checkpoints (reference:
  * phaser/table_diff.py:18-164 IndexedTableDiffer).
  *
  * The reference walks both tables row-by-row in Python; here the diff is
  * one full-outer join on the stable row number (the lineage contract) with
  * a classification expression — fully distributed, no driver data until a
  * capped report render.
  */
object TableDiff {

  final case class Counters(added: Long, removed: Long, changed: Long, unchanged: Long)

  /** Align old headers to new via declared renames (table_diff.py:77-89),
    * then full-outer join on row number and classify each row. Output:
    * `__graft_row_num__, status, <col>__old, <col>__new ...` for every
    * compared column. */
  def diff(f1in: DataFrame, f2: DataFrame,
      renames: Map[String, String] = Map.empty): DataFrame = {
    val f1 = renames.foldLeft(f1in) { case (d, (from, to)) =>
      if (d.columns.contains(from)) d.withColumnRenamed(from, to) else d
    }
    require(f1.columns.contains(Events.RowNumCol) && f2.columns.contains(Events.RowNumCol),
      s"diff requires the ${Events.RowNumCol} lineage column in both tables")

    val cols1 = f1.columns.filterNot(Events.internalCols.contains)
    val cols2 = f2.columns.filterNot(Events.internalCols.contains)
    val compared = (cols1 ++ cols2).distinct.toSeq

    // classification compares RAW values (null-safe) and only then projects
    // stringified report columns — when a caller aggregates on status only,
    // Catalyst prunes all the per-cell string formatting away
    // user columns are addressed via df(c) / backticked col: a bare
    // col("price.usd") parses the dot as struct-field access and throws on
    // a perfectly legal header
    def raw(c: String, suffix: String): Column = col(s"`__raw_${c}${suffix}`")
    def side(df: DataFrame, suffix: String): DataFrame = {
      val present = df.columns.toSet
      df.select(
        col(Events.RowNumCol).cast("long").as(Events.RowNumCol) +:
        lit(true).as(s"__present$suffix") +:
        compared.map(c =>
          (if (present.contains(c)) df(s"`$c`") else lit(null))
            .as(s"__raw_${c}${suffix}")): _*)
    }

    val left = side(f1, "__old")
    val right = side(f2, "__new")
    val joined = left.join(right, Seq(Events.RowNumCol), "full_outer")

    val inOld = coalesce(col("__present__old"), lit(false))
    val inNew = coalesce(col("__present__new"), lit(false))
    // raw null-safe comparison when both sides share a type; string
    // comparison when the schemas disagree (mirrors the reference, which
    // always compares checkpoint strings)
    def sideType(df: DataFrame, c: String) =
      df.schema.fields.find(_.name == c).map(_.dataType)
    val anyChanged: Column = compared
      .map { c =>
        val (o, n) = (raw(c, "__old"), raw(c, "__new"))
        if (sideType(f1, c) == sideType(f2, c)) !(o <=> n)
        else !(o.cast("string") <=> n.cast("string"))
      }
      .reduceOption(_ || _).getOrElse(lit(false))

    val reportCols = compared.flatMap(c => Seq(
      raw(c, "__old").cast("string").as(s"${c}__old"),
      raw(c, "__new").cast("string").as(s"${c}__new")))
    joined.withColumn("status",
        when(!inOld && inNew, "added")
          .when(inOld && !inNew, "removed")
          .when(anyChanged, "changed")
          .otherwise("unchanged"))
      .select(col(Events.RowNumCol) +: col("status") +: reportCols: _*)
  }

  /** Aggregate counters (table_diff.py:75) — one distributed aggregate. */
  def counters(diffed: DataFrame): Counters = {
    val m = diffed.groupBy("status").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    Counters(m.getOrElse("added", 0L), m.getOrElse("removed", 0L),
      m.getOrElse("changed", 0L), m.getOrElse("unchanged", 0L))
  }

  /** Char-level in-field diff markup (reference uses difflib
    * SequenceMatcher, table_diff.py:155-164). Classic LCS walk emitting
    * del/ins spans; driver-side, for report-sized strings.
    */
  def charDiff(oldS: String, newS: String): (String, String) = {
    val a = Option(oldS).getOrElse("").toCharArray
    val b = Option(newS).getOrElse("").toCharArray
    // LCS table (fields are short; O(nm) is fine for report rendering)
    val dp = Array.ofDim[Int](a.length + 1, b.length + 1)
    for (i <- a.length - 1 to 0 by -1; j <- b.length - 1 to 0 by -1)
      dp(i)(j) = if (a(i) == b(j)) dp(i + 1)(j + 1) + 1
                 else math.max(dp(i + 1)(j), dp(i)(j + 1))
    val oldOut = new StringBuilder
    val newOut = new StringBuilder
    var i = 0; var j = 0
    def esc(c: Char): String = c match {
      case '<' => "&lt;"; case '>' => "&gt;"; case '&' => "&amp;"
      case other => other.toString
    }
    var delRun = new StringBuilder
    var insRun = new StringBuilder
    def flush(): Unit = {
      if (delRun.nonEmpty) { oldOut.append(s"<del>$delRun</del>"); delRun = new StringBuilder }
      if (insRun.nonEmpty) { newOut.append(s"<ins>$insRun</ins>"); insRun = new StringBuilder }
    }
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { flush(); oldOut.append(esc(a(i))); newOut.append(esc(b(j))); i += 1; j += 1 }
      else if (dp(i + 1)(j) >= dp(i)(j + 1)) { delRun.append(esc(a(i))); i += 1 }
      else { insRun.append(esc(b(j))); j += 1 }
    }
    while (i < a.length) { delRun.append(esc(a(i))); i += 1 }
    while (j < b.length) { insRun.append(esc(b(j))); j += 1 }
    flush()
    (oldOut.toString, newOut.toString)
  }

  /** Escape a value for HTML cell/name contexts. */
  private def escHtml(s: String): String =
    s.flatMap {
      case '<' => "&lt;"; case '>' => "&gt;"; case '&' => "&amp;"
      case '"' => "&quot;"; case c => c.toString
    }

  /** D3 — HTML report (FormatterBase/HtmlTableFormat, table_diff.py:167-338).
    * Renders at most `maxRows` non-unchanged rows (driver-side string
    * building; counters remain exact and distributed). All cell values and
    * column names are escaped. */
  def htmlReport(diffed: DataFrame, maxRows: Int = 1000): String = {
    val c = counters(diffed)
    val compared = diffed.columns
      .filter(_.endsWith("__new")).map(_.stripSuffix("__new")).toSeq
    val interesting = diffed.filter(col("status") =!= "unchanged")
      .orderBy(col(Events.RowNumCol)).limit(maxRows).collect()

    val sb = new StringBuilder
    sb.append("<html><head><style>")
    sb.append("table{border-collapse:collapse;font-family:monospace}")
    sb.append("td,th{border:1px solid #ccc;padding:2px 6px}")
    sb.append("ins{background:#c8f0c8;text-decoration:none}del{background:#f0c8c8}")
    sb.append(".added{background:#eaffea}.removed{background:#ffecec}")
    sb.append("</style></head><body>")
    sb.append(s"<p>added: ${c.added}, removed: ${c.removed}, changed: ${c.changed}, unchanged: ${c.unchanged}</p>")
    sb.append("<table><tr><th>row</th><th>status</th>")
    compared.foreach(cn => sb.append(s"<th>${escHtml(cn)}</th>"))
    sb.append("</tr>")
    interesting.foreach { r =>
      val status = r.getAs[String]("status")
      sb.append(s"""<tr class="$status"><td>${r.getAs[Long](Events.RowNumCol)}</td><td>$status</td>""")
      compared.foreach { cn =>
        val o = Option(r.getAs[String](s"${cn}__old"))
        val n = Option(r.getAs[String](s"${cn}__new"))
        val cell = status match {
          case "changed" if o != n =>
            val (od, nd) = charDiff(o.orNull, n.orNull)
            s"$od &rarr; $nd" // charDiff escapes internally
          case "removed" => escHtml(o.getOrElse(""))
          case _ => escHtml(n.getOrElse(""))
        }
        sb.append(s"<td>$cell</td>")
      }
      sb.append("</tr>")
    }
    sb.append("</table></body></html>")
    sb.toString
  }
}

/** CL2 — diff CLI: build an HTML diff of two checkpoint files.
  * (The reference CLI calls a method that doesn't exist on Phase —
  * cli/commands/diff.py:168, a latent bug; the rebuild exposes the rename
  * map properly via Phase.renameList.) */
object TableDiffCli {
  import graft.cli.Main.session

  def main(args: Array[String]): Unit = args.toList match {
    // reference form: `phaser diff <pipeline> <workdir>` — per-phase diffs
    // over the checkpoint chain + an index page (cli/commands/diff.py)
    case pipelineName :: workDir :: Nil
        if graft.cli.Main.Registry.pipelines.contains(pipelineName) =>
      val spark = session()
      val phases = graft.cli.Main.Registry(pipelineName)
      val chain = "source_copy" +: phases.map(p => s"${p.name}_output")
      val diffable = phases.map(_.diffable)
      val index = new StringBuilder("<html><body><h1>Pipeline diff</h1><ul>")
      // checkpoints may be csv/json/parquet depending on the run's
      // --format; detect whichever extension exists
      def checkpointPath(base: String): String =
        Seq("csv", "json", "parquet").map(e => s"$workDir/$base.$e")
          .find(p => java.nio.file.Files.exists(java.nio.file.Paths.get(p)))
          .getOrElse(sys.error(s"No checkpoint found for $base under $workDir"))
      chain.sliding(2).zipWithIndex.foreach { case (Seq(a, b), i) =>
        if (diffable(i)) {
          val f1 = graft.sources.GraftIO.read(spark, checkpointPath(a))
          val f2 = graft.sources.GraftIO.read(spark, checkpointPath(b))
          val renames = phases(i).renameList
          val d = TableDiff.diff(withRowNum(f1), withRowNum(f2), renames)
          val out = s"$workDir/diff_${a}_to_$b.html"
          java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
            TableDiff.htmlReport(d))
          val c = TableDiff.counters(d)
          index.append(s"""<li><a href="diff_${a}_to_$b.html">$a &rarr; $b</a>: $c</li>""")
          println(s"[graft] $a -> $b: $c")
        } else
          index.append(s"<li>$a &rarr; $b: not diffable (renumbered)</li>")
      }
      index.append("</ul></body></html>")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$workDir/diff_index.html"), index.toString)
      println(s"[graft] pipeline diff index written to $workDir/diff_index.html")
      maybeOpen(s"$workDir/diff_index.html")

    case workDir :: file1 :: file2 :: rest =>
      val out = rest match {
        case "--out" :: p :: Nil => p
        case _ => s"$workDir/diff_report.html"
      }
      val spark = session()
      val f1 = graft.sources.GraftIO.read(spark, file1)
      val f2 = graft.sources.GraftIO.read(spark, file2)
      val diffed = TableDiff.diff(withRowNum(f1), withRowNum(f2))
      val counters = TableDiff.counters(diffed)
      java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
        TableDiff.htmlReport(diffed))
      println(s"[graft] diff written to $out: $counters")
      maybeOpen(out)
    case _ =>
      System.err.println(
        """usage: graft diff <pipeline> <workdir>          (per-phase checkpoint diffs)
          |       graft diff <workdir> <file1> <file2> [--out report.html]""".stripMargin)
      sys.exit(2)
  }

  /** Best-effort browser launch of the wrapper page (reference
    * cli/commands/diff.py auto-opens it). Opt-in via GRAFT_DIFF_OPEN=1 —
    * a surprise browser is wrong for CI/headless runs, and the attempt
    * must never fail the diff itself. */
  private def maybeOpen(path: String): Unit =
    if (sys.env.get("GRAFT_DIFF_OPEN").contains("1"))
      try new ProcessBuilder("xdg-open", path).start()
      catch { case _: Exception =>
        System.err.println(s"[graft] could not open $path in a browser")
      }

  /** Checkpoints carry the row-number column as strings after CSV re-read;
    * standalone files may lack it entirely (fall back to line order). */
  private def withRowNum(df: org.apache.spark.sql.DataFrame) =
    if (df.columns.contains(graft.plans.Events.RowNumCol))
      df.withColumn(graft.plans.Events.RowNumCol,
        org.apache.spark.sql.functions.col(graft.plans.Events.RowNumCol).cast("long"))
    else graft.plans.RowNum.assign(df)
}
