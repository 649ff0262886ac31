package graft.sources

import org.apache.spark.sql.types._

/** SQL dialect abstraction for the JDBC layer — the reference ships three
  * hand-written dialects (fabrix-sql MySQL/Postgres/SQLite via sea-query);
  * ours adds Derby (the embedded DB available offline) and keeps the surface
  * minimal: identifier quoting, DDL type names, limit/offset style, and the
  * native upsert statement.
  */
sealed trait Dialect {
  def name: String

  /** Quote an identifier, escaping embedded quote characters — identifiers
    * can come from untrusted file headers (XLSX/CSV → XlIngest → DB write),
    * so every rendered DDL/DML statement must pass names through here
    * (the reference's sea-query path always quotes, sql_adt rendering).
    */
  def quote(ident: String): String = "\"" + ident.replace("\"", "\"\"") + "\""

  /** One ORDER BY item with Spark-matching null placement (ASC → NULLS
    * FIRST, DESC → NULLS LAST). MySQL overrides: it has no NULLS FIRST/LAST
    * syntax, and its native placement (NULL lowest: first ASC, last DESC)
    * already matches Spark, so plain ASC/DESC is both valid and correct.
    */
  def orderByItem(quotedCol: String, desc: Boolean): String =
    quotedCol + (if (desc) " DESC NULLS LAST" else " NULLS FIRST")

  /** Explicit null placement (`Order.nullsFirst`); defaults reduce to
    * [[orderByItem]]'s Spark-matching contract.
    */
  def orderByItem(quotedCol: String, desc: Boolean, nullsFirst: Boolean): String =
    quotedCol + (if (desc) " DESC" else "") + (if (nullsFirst) " NULLS FIRST" else " NULLS LAST")

  def typeName(dt: DataType): String = dt match {
    case BooleanType      => "BOOLEAN"
    case ByteType         => "SMALLINT"
    case ShortType        => "SMALLINT"
    case IntegerType      => "INTEGER"
    case LongType         => "BIGINT"
    case FloatType        => "REAL"
    case DoubleType       => "DOUBLE"
    case StringType       => "VARCHAR(4096)"
    case DateType         => "DATE"
    case TimestampType    => "TIMESTAMP"
    case TimestampNTZType => "TIMESTAMP"
    case d: DecimalType   => s"DECIMAL(${math.min(d.precision, 31)},${math.min(d.scale, 31)})"
    case BinaryType       => "BLOB"
    case other            => throw new IllegalArgumentException(s"no SQL type for $other")
  }

  /** LIMIT/OFFSET rendering (ANSI FETCH vs LIMIT). */
  def limitClause(limit: Option[Long], offset: Option[Long]): String = {
    val o = offset.map(n => s" OFFSET $n ROWS").getOrElse("")
    val l = limit.map(n => s" FETCH NEXT $n ROWS ONLY").getOrElse("")
    o + l
  }

  /** Native single-statement upsert keyed on `pk`, binding each of `cols`
    * once, in order, through `VALUES (?, …)`; None = the dialect has none
    * and writes take the split UPDATE-then-INSERT path.
    */
  def upsertSql(table: String, cols: Seq[String], pk: String): Option[String]

  /** Rename a table (Derby overrides with its RENAME TABLE verb). */
  def renameTableSql(from: String, to: String): String =
    s"ALTER TABLE ${quote(from)} RENAME TO ${quote(to)}"

  /** Read-side type mapping (reference X5: per-driver type-tag registry,
    * fabrix-sql/src/executor/types.rs:71-83 — DB type name → engine type);
    * the write-side inverse is [[typeName]]. Unknown names decay to string,
    * like the reference's fallback decode.
    */
  def sparkTypeFor(dbTypeName: String): DataType = {
    val upper = dbTypeName.toUpperCase
    val base = upper.takeWhile(c => c != '(' && c != ' ')
    // zone-qualified names must match BEFORE the prefix decay, or
    // "TIMESTAMP WITH TIME ZONE" would silently drop its zone semantics
    if (upper.contains("WITH TIME ZONE") || base == "TIMESTAMPTZ" || base == "TIMETZ")
      return TimestampType
    base match {
      case "BOOLEAN" | "BOOL" | "BIT"                       => BooleanType
      case "TINYINT"                                        => ByteType
      case "SMALLINT" | "INT2"                              => ShortType
      case "INTEGER" | "INT" | "INT4" | "MEDIUMINT"         => IntegerType
      case "BIGINT" | "INT8"                                => LongType
      case "REAL" | "FLOAT4"                                => FloatType
      case "DOUBLE" | "FLOAT8" | "FLOAT"                    => DoubleType
      case "DECIMAL" | "NUMERIC" =>
        val dims = dbTypeName.dropWhile(_ != '(').drop(1).takeWhile(_ != ')').split(',')
        if (dims.length == 2) DecimalType(dims(0).trim.toInt, dims(1).trim.toInt)
        else DecimalType(38, 18)
      case "DATE"                                           => DateType
      case "TIMESTAMP" | "DATETIME"                         => TimestampNTZType
      case "BLOB" | "BYTEA" | "BINARY" | "VARBINARY"        => BinaryType
      case _                                                => StringType
    }
  }

  /** ALTER TABLE … change a column's type (reference modify_column,
    * fabrix-sql/src/builder/sql_adt.rs:424-441, mutation_ddl.rs:36-63).
    * Dialects differ in the verb; SQLite has no ALTER COLUMN at all.
    */
  def modifyColumnSql(table: String, column: String, typeName: String): String =
    s"ALTER TABLE ${quote(table)} ALTER COLUMN ${quote(column)} SET DATA TYPE $typeName"

  /** ALTER TABLE … DROP the named foreign-key constraint. */
  def dropForeignKeySql(table: String, fkName: String): String =
    s"ALTER TABLE ${quote(table)} DROP CONSTRAINT ${quote(fkName)}"
}

/** Referential action for FK DDL (reference ForeignKeyAction,
  * fabrix-sql/src/builder/sql_adt.rs:189-211).
  */
sealed abstract class FkAction(val sql: String)
object FkAction {
  case object Restrict   extends FkAction("RESTRICT")
  case object Cascade    extends FkAction("CASCADE")
  case object SetNull    extends FkAction("SET NULL")
  case object NoAction   extends FkAction("NO ACTION")
  case object SetDefault extends FkAction("SET DEFAULT")
}

object Dialect {

  case object Ansi extends Dialect {
    val name = "ansi"
    def upsertSql(table: String, cols: Seq[String], pk: String): Option[String] = None
  }

  /** MySQL (fabrix-sql/src/builder mysql dialect). Note: the pushdown
    * SELECT renderer (SqlRenderer) emits ANSI double-quoted identifiers;
    * MySQL sessions should enable ANSI_QUOTES (DDL/DML rendered by
    * JdbcExecutor uses this dialect's backtick quote).
    */
  case object MySql extends Dialect {
    val name = "mysql"
    override def orderByItem(quotedCol: String, desc: Boolean): String =
      quotedCol + (if (desc) " DESC" else "")
    /** MySQL has no NULLS FIRST/LAST — emulate non-native placements with
      * an IS NULL prefix key (native: NULL sorts lowest — first ASC, last
      * DESC).
      */
    override def orderByItem(quotedCol: String, desc: Boolean, nullsFirst: Boolean): String = {
      val native = !desc // MySQL's built-in placement
      val base = quotedCol + (if (desc) " DESC" else "")
      if (nullsFirst == native) base
      else s"($quotedCol IS NULL) ${if (nullsFirst) "DESC" else "ASC"}, $base"
    }
    /** MySQL's bare FLOAT is a 4-byte single (unlike Postgres, where FLOAT
      * defaults to float8) — map it to FloatType so reads don't widen.
      */
    override def sparkTypeFor(dbTypeName: String): DataType =
      if (dbTypeName.toUpperCase.startsWith("FLOAT")) FloatType
      else super.sparkTypeFor(dbTypeName)
    override def quote(ident: String): String = "`" + ident.replace("`", "``") + "`"
    override def modifyColumnSql(table: String, column: String, typeName: String): String =
      s"ALTER TABLE ${quote(table)} MODIFY COLUMN ${quote(column)} $typeName"
    override def dropForeignKeySql(table: String, fkName: String): String =
      s"ALTER TABLE ${quote(table)} DROP FOREIGN KEY ${quote(fkName)}"
    override def limitClause(limit: Option[Long], offset: Option[Long]): String =
      limit.map(n => s" LIMIT $n").getOrElse("") + offset.map(n => s" OFFSET $n").getOrElse("")
    def upsertSql(table: String, cols: Seq[String], pk: String): Option[String] = {
      val collist = cols.map(quote).mkString(", ")
      val ph = cols.map(_ => "?").mkString(", ")
      val updates = cols.filter(_ != pk).map(c => s"${quote(c)} = VALUES(${quote(c)})").mkString(", ")
      Some(s"INSERT INTO ${quote(table)} ($collist) VALUES ($ph) ON DUPLICATE KEY UPDATE $updates")
    }
  }

  /** PostgreSQL. */
  case object Postgres extends Dialect {
    val name = "postgres"
    override def modifyColumnSql(table: String, column: String, typeName: String): String =
      s"ALTER TABLE ${quote(table)} ALTER COLUMN ${quote(column)} TYPE $typeName"
    override def limitClause(limit: Option[Long], offset: Option[Long]): String =
      limit.map(n => s" LIMIT $n").getOrElse("") + offset.map(n => s" OFFSET $n").getOrElse("")
    def upsertSql(table: String, cols: Seq[String], pk: String): Option[String] = {
      val collist = cols.map(quote).mkString(", ")
      val ph = cols.map(_ => "?").mkString(", ")
      val updates = cols.filter(_ != pk).map(c => s"${quote(c)} = EXCLUDED.${quote(c)}").mkString(", ")
      Some(s"INSERT INTO ${quote(table)} ($collist) VALUES ($ph) ON CONFLICT (${quote(pk)}) DO UPDATE SET $updates")
    }
  }

  /** SQLite. */
  case object Sqlite extends Dialect {
    val name = "sqlite"
    override def modifyColumnSql(table: String, column: String, typeName: String): String =
      throw new UnsupportedOperationException("SQLite has no ALTER COLUMN; recreate the table")
    override def dropForeignKeySql(table: String, fkName: String): String =
      throw new UnsupportedOperationException("SQLite has no DROP CONSTRAINT; recreate the table")
    override def limitClause(limit: Option[Long], offset: Option[Long]): String =
      limit.map(n => s" LIMIT $n").getOrElse("") + offset.map(n => s" OFFSET $n").getOrElse("")
    def upsertSql(table: String, cols: Seq[String], pk: String): Option[String] =
      Postgres.upsertSql(table, cols, pk).map(_.replace("EXCLUDED.", "excluded."))
  }

  /** Apache Derby — the embedded DB shipped with Spark, our offline
    * integration target. ANSI FETCH limits. Derby's MERGE only accepts base
    * tables as source, so upsert uses the generic split path (semi/anti
    * split + batched UPDATE/INSERT — the reference's own physical plan,
    * ec.rs:518-538).
    */
  case object Derby extends Dialect {
    val name = "derby"
    def upsertSql(table: String, cols: Seq[String], pk: String): Option[String] = None
    override def renameTableSql(from: String, to: String): String =
      s"RENAME TABLE ${quote(from)} TO ${quote(to)}"
  }

  def infer(url: String): Dialect =
    if (url.startsWith("jdbc:mysql")) MySql
    else if (url.startsWith("jdbc:postgresql")) Postgres
    else if (url.startsWith("jdbc:sqlite")) Sqlite
    else if (url.startsWith("jdbc:derby")) Derby
    else Ansi
}
