package graft.shelf

import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.api.SchemaMemo

/** Interactive query surface (`shelf db`): a view per table over its
  * parquet plus unique short aliases, then arbitrary Spark SQL; a bare
  * word becomes `SELECT * FROM word`.
  *
  * Reference: /root/reference/src/shelf/__init__.py:364-431. The
  * DuckDB-views + read_parquet plumbing maps to temp views + Catalyst;
  * output formatting mirrors JSON-records / CSV.
  */
object Db {

  def execute(spark: SparkSession, root: Path, tablePaths: Seq[String],
              query: String, names: String = "both"): DataFrame = {
    registerViews(spark, root, tablePaths, names)
    val sql =
      if (query.trim.matches("[A-Za-z_][A-Za-z0-9_]*"))
        s"SELECT * FROM ${query.trim}"
      else query
    spark.sql(sql)
  }

  /** names ∈ short | full | both (__init__.py:136-140, 381-387). Each
    * view reads its table through the stat-keyed [[SchemaMemo]]: no
    * schema-inference job, and an alias shares its table's frame.
    */
  def registerViews(spark: SparkSession, root: Path, tablePaths: Seq[String],
                    names: String): Unit = {
    val read = (path: String) =>
      SchemaMemo.read(spark, Tables.tablePath(root, StepURI.table(path)).toString)
    if (names == "full" || names == "both")
      tablePaths.foreach(p => read(p).createOrReplaceTempView(Naming.pathToSnake(p)))
    if (names == "short" || names == "both") {
      val bySnake = tablePaths.map(p => Naming.pathToSnake(p) -> p).toMap
      Naming.tableAliases(tablePaths).foreach { case (alias, tableName) =>
        bySnake.get(tableName).foreach(p => read(p).createOrReplaceTempView(alias))
      }
    }
  }

  def toJsonRecords(df: DataFrame): Seq[String] =
    df.toJSON.collect().toSeq

  def toCsv(df: DataFrame): String = {
    val header = df.columns.mkString(",")
    val rows = df.collect().map(_.toSeq.map {
      case null => ""
      case s: String if s.contains(",") || s.contains("\"") =>
        "\"" + s.replace("\"", "\"\"") + "\""
      case v => v.toString
    }.mkString(","))
    (header +: rows).mkString("\n")
  }
}
