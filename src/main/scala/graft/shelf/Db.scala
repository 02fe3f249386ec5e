package graft.shelf

import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

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

  /** names ∈ short | full | both (__init__.py:136-140, 381-387). With
    * `both`, an alias is registered over its table's full-name frame:
    * a second `spark.read.parquet` would infer the same schema again.
    */
  def registerViews(spark: SparkSession, root: Path, tablePaths: Seq[String],
                    names: String): Unit = {
    val read = (path: String) =>
      spark.read.parquet(Tables.tablePath(root, StepURI.table(path)).toString)
    val full: Map[String, DataFrame] =
      if (names == "full" || names == "both")
        tablePaths.map { p =>
          val df = read(p)
          df.createOrReplaceTempView(Naming.pathToSnake(p))
          Naming.pathToSnake(p) -> df
        }.toMap
      else Map.empty
    if (names == "short" || names == "both")
      Naming.tableAliases(tablePaths).foreach { case (alias, tableName) =>
        full.get(tableName)
          .orElse(tablePaths.find(p => Naming.pathToSnake(p) == tableName).map(read))
          .foreach(_.createOrReplaceTempView(alias))
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
