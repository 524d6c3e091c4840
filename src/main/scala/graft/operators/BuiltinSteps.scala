package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.{Context, DataException, Events, Step}

/** Built-in relational steps (reference: phaser/builtin_steps.py) plus the
  * reshape patterns the reference expresses through dataframe steps
  * (tests/test_reshape.py). All are lazy `DataFrame => DataFrame`
  * compositions of built-in operators — every one shuffles only on its
  * stated keys and none collects to the driver.
  */
object BuiltinSteps {

  /** B1 drop_duplicate_rows (builtin_steps.py:15-54): dedup on all or
    * named columns, keeping the LAST duplicate (dict-overwrite semantics,
    * builtin_steps.py:43-45) positioned at the first occurrence's row
    * number. One shuffle on the key columns; the orderBy restores the
    * first-occurrence position contract.
    */
  def dropDuplicateRows(columns: Seq[String] = Nil): Step =
    Step.Batch("drop_duplicate_rows", (df, ctx) => {
      val keys: Seq[Column] =
        if (columns.nonEmpty) columns.map(col)
        else df.columns.filterNot(Events.internalCols.contains).map(col).toSeq
      val w = Window.partitionBy(keys: _*).orderBy(col(Events.RowNumCol).desc)
      val firstPos = Window.partitionBy(keys: _*)
      df.withColumn("__graft_rn__", row_number().over(w))
        .withColumn("__graft_first_pos__", min(col(Events.RowNumCol)).over(firstPos))
        .filter(col("__graft_rn__") === 1)
        // last dup's values, first occurrence's row number/position
        .withColumn(Events.RowNumCol, col("__graft_first_pos__"))
        .drop("__graft_rn__", "__graft_first_pos__")
    })

  /** B2 check_unique (builtin_steps.py:57-86): assert all values of the
    * column (or the TUPLE of a column list, builtin_steps.py:60-66) are
    * unique; optional strip (default true) and lower-casing. One
    * aggregate; fails the job via DataException when duplicates exist.
    * Does not mutate the data.
    */
  def checkUnique(column: String, strip: Boolean = true,
      ignoreCase: Boolean = false): Step =
    checkUniqueAll(Seq(column), strip, ignoreCase)
  def checkUnique(columns: Seq[String]): Step =
    checkUniqueAll(columns, strip = true, ignoreCase = false)
  def checkUnique(columns: Seq[String], strip: Boolean, ignoreCase: Boolean): Step =
    checkUniqueAll(columns, strip, ignoreCase)

  private def checkUniqueAll(columns: Seq[String], strip: Boolean,
      ignoreCase: Boolean): Step =
    Step.ContextStep("check_unique", (df, ctx) => {
      columns.foreach { column =>
        if (!df.columns.contains(column))
          throw DataException(s"Column '$column' not found in check_unique")
      }
      val keys = columns.map { column =>
        var c: Column = col(column)
        if (strip) c = trim(c)
        if (ignoreCase) c = lower(c)
        c
      }
      val dups = df.groupBy(struct(keys: _*).as("k")).count().filter(col("count") > 1)
      if (dups.limit(1).count() > 0)
        throw DataException(
          s"Some values in '${columns.mkString(", ")}' were duplicated, so unique check failed")
    })

  /** B3 sort_by (builtin_steps.py:89-107): stable ascending sort; row-num
    * tiebreak reproduces Python's stable sort. Row numbers are PRESERVED
    * through the sort (the reference's sorted() keeps Record.row_num;
    * renumbering only happens in renumber=true phases) — so the phase
    * stays diffable and earlier DROPPED_ROW events keep valid numbers.
    * Range-partitioned sort — no single-task bottleneck.
    */
  def sortBy(column: String): Step =
    Step.Batch("sort_by", (df, ctx) =>
      df.orderBy(col(column).asc, col(Events.RowNumCol).asc))

  /** B4 filter_rows (builtin_steps.py:110-138): keep rows where the
    * predicate holds. Dropped rows' events are tracked as a lazy side
    * frame and drained once at the phase boundary (the reference reports
    * an aggregate dropped count, builtin_steps.py:130-137) — no extra
    * action inside the phase.
    */
  def filterRows(predicate: Column): Step =
    Step.PhaseAwareBatch("filter_rows", (d, ctx, phase) => {
      val keep = coalesce(predicate, lit(false))
      ctx.registerDroppedEvents(phase, Events.droppedRows(d.filter(!keep),
        "filter_rows", lit("Row dropped by filter_rows predicate")))
      d.filter(keep)
    })

  /** B5 flatten_all (builtin_steps.py:141-186): repeatedly lift every
    * struct-valued field to `parent__child` columns until none remain;
    * collision with an existing name is a DataException.
    */
  def flattenAll: Step = Step.Batch("flatten_all", (df0, ctx) => {
    var df = df0
    var structs = structCols(df)
    while (structs.nonEmpty) {
      structs.foreach { s =>
        val fields = df.schema(s).dataType
          .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames
        df = flattenOne(df, s, fields)
      }
      structs = structCols(df)
    }
    df
  })

  /** B6 flatten_column (builtin_steps.py:189-234): flatten one named
    * struct column; deep=true recurses into nested structs.
    */
  def flattenColumn(columnName: String, deep: Boolean = true): Step =
    Step.Batch("flatten_column", (df0, ctx) => {
      if (!df0.columns.contains(columnName))
        throw DataException(s"Column '$columnName' not found in flatten_column")
      df0.schema(columnName).dataType match {
        case st: org.apache.spark.sql.types.StructType =>
          var df = flattenOne(df0, columnName, st.fieldNames)
          if (deep) {
            var nested = structCols(df).filter(_.startsWith(columnName + "__"))
            while (nested.nonEmpty) {
              nested.foreach { s =>
                val fields = df.schema(s).dataType
                  .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames
                df = flattenOne(df, s, fields)
              }
              nested = structCols(df).filter(_.startsWith(columnName + "__"))
            }
          }
          df
        case _ => df0 // non-struct values pass through (builtin_steps.py:218-222)
      }
    })

  private def structCols(df: DataFrame): Seq[String] =
    df.schema.fields
      .filter(f => f.dataType.isInstanceOf[org.apache.spark.sql.types.StructType])
      .map(_.name).filterNot(Events.internalCols.contains).toSeq

  private def flattenOne(df: DataFrame, parent: String, fields: Seq[String]): DataFrame = {
    val collisions = fields.map(f => s"${parent}__$f").filter(df.columns.contains)
    if (collisions.nonEmpty)
      throw DataException(
        s"Flattening would overwrite existing column(s): ${collisions.mkString(", ")}")
    val kept = df.columns.filterNot(_ == parent).map(col)
    val lifted = fields.map(f => col(s"$parent.$f").as(s"${parent}__$f"))
    df.select(kept ++ lifted: _*)
  }

  // -------- reshape patterns R1-R3 (tests/test_reshape.py) --------

  /** R1/R2 pivot: groupBy(index).pivot(columns).agg(first(values)).
    * Rows are renumbered (the output row space is new), which marks the
    * phase non-diffable like renumber=true. */
  def pivot(index: String, columns: String, values: String,
      columnValues: Seq[String] = Nil): Step =
    Step.Batch("pivot", (df, ctx) => {
      val grouped = df.groupBy(col(index))
      val piv = if (columnValues.nonEmpty) grouped.pivot(columns, columnValues)
                else grouped.pivot(columns)
      graft.plans.RowNum.assign(piv.agg(first(col(values))).orderBy(col(index)))
    }, renumbers = true)

  /** R3 explode a delimited string column into one row per element.
    * Renumbers (one input row becomes many), marking the phase
    * non-diffable. */
  def explodeSplit(column: String, delimiter: String, as: String): Step =
    Step.Batch("explode_split", (df, ctx) =>
      graft.plans.RowNum.assign(
        df.withColumn(as, explode(split(col(column), java.util.regex.Pattern.quote(delimiter))))),
      renumbers = true)
}
