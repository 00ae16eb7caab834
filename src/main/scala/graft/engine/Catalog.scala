package graft.engine

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import scala.util.Using
import scala.util.matching.Regex

/** Catalog discovery (reference A1-A6): which tables to export per
  * schema and which columns per table, with regex include/exclude,
  * external/temporary-table exclusion, unsupported-type exclusion and
  * deterministic ordering.
  *
  * The reference pushes these as SQL against Oracle's `all_tables` /
  * `all_tab_columns` (main.py:191-217, main.py:87-108); here the SQL
  * text generators live beside a driver-neutral [[TableCatalog]] trait
  * so the filtering logic is unit-testable without a live Oracle
  * (SURVEY.md §5.4). Note the reference's exclude-pattern SQL is
  * malformed — the clause is appended after ORDER BY (main.py:201,
  * 205-207); we generate the *intended* SQL (exclude before ORDER BY).
  */
final case class ColumnMeta(name: String, dataType: String, position: Int,
    precision: Option[Int] = None, scale: Option[Int] = None)

/** Deterministic Oracle→Catalyst type mapping (SURVEY §1.2): the scan
  * schema is pinned from the dictionary's (data_type, precision, scale)
  * instead of inherited from whatever the driver infers off the first
  * batch — the reference's first-batch fragility (main.py:165-170).
  * Follows the NUMBER(p,s) table committed in the survey (integer
  * narrowing for s=0 with small p, DecimalType otherwise — the same
  * contract Spark's own OracleDialect applies to JDBC reads). */
object OracleTypeMap {
  import org.apache.spark.sql.types._

  def toCatalyst(meta: ColumnMeta): Option[DataType] = {
    meta.dataType.toUpperCase.trim match {
      case "NUMBER" =>
        val s = meta.scale.getOrElse(0)
        Some(meta.precision.filter(_ > 0) match {
          case None => DecimalType(38, 10) // unconstrained NUMBER
          case Some(p) if s == 0 && p <= 9 => IntegerType
          case Some(p) if s == 0 && p <= 18 => LongType
          case Some(p) if s < 0 => // NUMBER(p,-s): rounded to 10^s
            DecimalType(math.min(38, p - s), 0)
          case Some(p) => // Oracle allows s > p (leading-zero decimals)
            DecimalType(math.min(38, math.max(p, s)), math.min(38, s))
        })
      case "FLOAT" | "BINARY_DOUBLE" => Some(DoubleType)
      case "BINARY_FLOAT" => Some(FloatType)
      case "VARCHAR2" | "NVARCHAR2" | "CHAR" | "NCHAR" | "ROWID" => Some(StringType)
      // Oracle DATE carries a time-of-day component
      case "DATE" => Some(TimestampType)
      case t if t.startsWith("TIMESTAMP") => Some(TimestampType)
      case _ => None // not an Oracle dictionary type: leave to inference
    }
  }
}

trait TableCatalog {
  /** Exportable table names of a schema, filtered and sorted ASC. */
  def listTables(schema: String, include: Regex, exclude: Option[Regex]): Seq[String]
  /** Exportable columns of a table in dictionary position order. */
  def listColumns(schema: String, table: String): Seq[ColumnMeta]
}

object Catalog {

  /** Oracle types the reference never exports (main.py:96-97). */
  val excludedTypes: Set[String] =
    Set("BLOB", "BFILE", "CLOB", "UNDEFINED", "UROWID", "LONG", "RAW")

  def isExportableType(dataType: String): Boolean = {
    val dt = dataType.toUpperCase
    !excludedTypes.contains(dt) && !dt.startsWith("INTERVAL ")
  }

  /** Include/exclude regex filter with the reference's *intended*
    * semantics (A3/A4): keep tables matching `include` and, when an
    * exclude pattern is set, drop those matching it. Patterns are
    * unanchored like Oracle's REGEXP_LIKE. */
  def filterTables(tables: Seq[String], include: Regex,
      exclude: Option[Regex]): Seq[String] =
    tables
      .filter(t => include.findFirstIn(t).isDefined)
      .filterNot(t => exclude.exists(_.findFirstIn(t).isDefined))
      .sorted

  /** SQL text sent to Oracle for table discovery — the reference's
    * observable contract (main.py:195-207), with the exclude clause in
    * its intended position before ORDER BY. Bind-style placeholders. */
  def tablesSql(excludePattern: Boolean): String = {
    val exclude =
      if (excludePattern) "\n  AND NOT REGEXP_LIKE(table_name, :exclude_pattern)" else ""
    s"""SELECT table_name
       |FROM all_tables
       |WHERE owner = :owner
       |  AND external = 'NO'
       |  AND temporary = 'N'
       |  AND REGEXP_LIKE(table_name, :include_pattern)$exclude
       |ORDER BY table_name ASC""".stripMargin
  }

  /** SQL text for column discovery (main.py:92-99): position-ordered,
    * unsupported types excluded server-side. */
  def columnsSql: String = {
    val types = excludedTypes.toSeq.sorted.map(t => s"'$t'").mkString(", ")
    s"""SELECT column_name, data_type
       |FROM all_tab_columns
       |WHERE owner = :owner
       |  AND table_name = :table_name
       |  AND data_type NOT IN ($types)
       |  AND data_type NOT LIKE 'INTERVAL %'
       |ORDER BY column_id ASC""".stripMargin
  }
}

/** Driver-portable JDBC catalog over `java.sql.DatabaseMetaData` —
  * works against any JDBC database (the offline tests use embedded
  * Derby). The Oracle deployment path swaps in the dictionary SQL from
  * [[Catalog.tablesSql]]/[[Catalog.columnsSql]], which also encodes the
  * external/temporary-table exclusions `getTables` cannot express. */
final class JdbcMetaCatalog(url: String) extends TableCatalog {

  private def withConn[A](f: java.sql.Connection => A): A = {
    val c = java.sql.DriverManager.getConnection(url)
    try f(c) finally c.close()
  }

  override def listTables(schema: String, include: Regex,
      exclude: Option[Regex]): Seq[String] = withConn { c =>
    val rs = c.getMetaData.getTables(null, schema, "%", Array("TABLE"))
    val names = Iterator.continually(rs)
      .takeWhile(_.next()).map(_.getString("TABLE_NAME")).toList
    Catalog.filterTables(names, include, exclude)
  }

  override def listColumns(schema: String, table: String): Seq[ColumnMeta] =
    withConn { c =>
      val rs = c.getMetaData.getColumns(null, schema, table, "%")
      Iterator.continually(rs).takeWhile(_.next()).map { r =>
        def optInt(col: String): Option[Int] = {
          val v = r.getInt(col)
          if (r.wasNull()) None else Some(v)
        }
        ColumnMeta(r.getString("COLUMN_NAME"), r.getString("TYPE_NAME"),
          r.getInt("ORDINAL_POSITION"),
          optInt("COLUMN_SIZE"), optInt("DECIMAL_DIGITS"))
      }.toList.sortBy(_.position)
    }
}

/** Directory-backed catalog for Parquet-staged schemas: a schema is a
  * directory, a table is a `{name}.parquet` file or `{name}/` dir of
  * parquet parts. Powers tests and the Parquet-to-Parquet pipeline. */
final class ParquetCatalog(root: Path) extends TableCatalog {

  private def schemaDir(schema: String): Path = root.resolve(schema)

  override def listTables(schema: String, include: Regex,
      exclude: Option[Regex]): Seq[String] = {
    val dir = schemaDir(schema)
    if (!Files.isDirectory(dir)) Seq.empty
    else {
      // the directory stream holds a descriptor until closed
      val names = Using.resource(Files.list(dir))(_.iterator().asScala.toList).flatMap { p =>
        val fn = p.getFileName.toString
        if (Files.isDirectory(p)) Some(fn)
        else if (fn.endsWith(".parquet")) Some(fn.stripSuffix(".parquet"))
        else None
      }
      Catalog.filterTables(names, include, exclude)
    }
  }

  override def listColumns(schema: String, table: String): Seq[ColumnMeta] = {
    val spark = org.apache.spark.sql.SparkSession.active
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = ParquetTables.read(spark, tablePath(schema, table))
    df.schema.fields.zipWithIndex.toSeq.map { case (f, i) =>
      ColumnMeta(f.name, f.dataType.simpleString, i + 1)
    }
  }

  def tablePath(schema: String, table: String): String = {
    val asFile = schemaDir(schema).resolve(s"$table.parquet")
    val p = if (Files.exists(asFile)) asFile else schemaDir(schema).resolve(table)
    p.toString
  }
}
