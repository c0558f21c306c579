package moverbench

import java.sql.DriverManager

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.meta.Catalog

/** Order-independent fingerprint of a key multiset: count, sum and sum of
  * squares of one integer key per row, exact. Additive over rows, so a
  * delta's expected fingerprint is new minus base.
  */
final case class Fp(n: Long, sum: BigInt, sumSq: BigInt) {
  def -(o: Fp): Fp = Fp(n - o.n, sum - o.sum, sumSq - o.sumSq)
  override def toString: String = s"n=$n sum=$sum sumsq=$sumSq"
}

/** Expected outputs of one seed, from the DuckDB oracle in `run.py`:
  * per table, the row multiset of the extracted artifact and the set of
  * distinct full primary keys an upsert must leave in the target.
  */
final case class Expect(rows: Fp, keys: Fp)

/** Output checks shared by the workloads. Every check reads the outputs
  * through plain Spark or JDBC, never through the program's own readers.
  */
object Checks {

  /** One integer per catalog key, the same expression the oracle uses
    * (`lineitem`'s line number is below 1000).
    */
  def keySql(table: String): String = Catalog.tpch.pkOf(table) match {
    case Seq(k) => s""""$k""""
    case Seq(o, l) => s"""("$o" * 1000 + "$l")"""
    case pk => throw new IllegalArgumentException(s"no key expression for $table: $pk")
  }

  /** Derby column type for a source column. */
  private def derbyType(t: DataType): String = t match {
    case LongType => "BIGINT"
    case IntegerType => "INTEGER"
    case DoubleType => "DOUBLE"
    case StringType => "VARCHAR(4000)"
    case TimestampType | TimestampNTZType => "TIMESTAMP"
    case other => throw new IllegalArgumentException(s"no Derby type for $other")
  }

  /** `CREATE TABLE` with the catalog's FULL primary key. */
  def ddl(table: String, schema: StructType): String = {
    val pk = Catalog.tpch.pkOf(table)
    val cols = schema.fields.map { f =>
      s""""${f.name}" ${derbyType(f.dataType)}${if (pk.contains(f.name)) " NOT NULL" else ""}"""
    }
    s"""CREATE TABLE "$table" (${cols.mkString(", ")}, PRIMARY KEY (${pk.map(k => s""""$k"""").mkString(", ")}))"""
  }

  def derbyFp(url: String, table: String): Fp = withConn(url) { c =>
    val k = s"CAST(${keySql(table)} AS DECIMAL(31,0))"
    val rs = c.createStatement().executeQuery(
      s"""SELECT COUNT(*), SUM($k), SUM($k * $k) FROM "$table"""")
    rs.next()
    Fp(rs.getLong(1), big(rs.getBigDecimal(2)), big(rs.getBigDecimal(3)))
  }

  /** Customer rows whose sanitized columns do not follow the config. */
  def derbyUnsanitized(url: String): Long = withConn(url) { c =>
    val rs = c.createStatement().executeQuery(
      """SELECT COUNT(*) FROM "customer" WHERE "c_acctbal" IS NOT NULL
        | OR "c_name" <> 'Customer#' || TRIM(CHAR("c_custkey"))""".stripMargin)
    rs.next(); rs.getLong(1)
  }

  /** Row fingerprints of every table of an artifact in ONE Spark job,
    * plus the count of unsanitized customer rows. Reads the committed
    * JSON parts directly.
    */
  def artifactFps(spark: SparkSession, dir: String, tables: Seq[String],
      source: String => StructType): (Map[String, Fp], Long) = {
    // a table with no rows may have no data dir at all
    val present = tables.filter(t =>
      java.nio.file.Files.isDirectory(graft.io.JsonTableIO.dataPath(dir, t)))
    val parts: Seq[DataFrame] = present.map { t =>
      val pk = Catalog.tpch.pkOf(t)
      val extra = if (t == "customer") Seq("c_name", "c_acctbal") else Nil
      val schema = StructType((pk ++ extra).map(c => source(t)(c)))
      val df = spark.read.schema(schema)
        .json(graft.io.JsonTableIO.dataPath(dir, t).toString)
      val k = expr(keySql(t).replace("\"", "`")).cast(DecimalType(38, 0))
      val bad =
        if (t == "customer") when(col("c_acctbal").isNotNull ||
          col("c_name") =!= concat(lit("Customer#"), col("c_custkey").cast(StringType)), 1)
          .otherwise(0)
        else lit(0)
      df.agg(count(lit(1)).as("n"), sum(k).as("s"), sum(k * k).as("q"),
          sum(bad).cast(LongType).as("bad"))
        .select(lit(t).as("t"), col("n"), col("s").cast(StringType).as("s"),
          col("q").cast(StringType).as("q"), col("bad"))
    }
    val rows = parts.reduceOption(_ union _).map(_.collect()).getOrElse(Array.empty)
    val fps = rows.map(r => r.getString(0) ->
      Fp(r.getLong(1), Option(r.getString(2)).map(BigInt(_)).getOrElse(BigInt(0)),
        Option(r.getString(3)).map(BigInt(_)).getOrElse(BigInt(0)))).toMap
    (fps, rows.map(r => Option(r.get(4)).map(_.asInstanceOf[Long]).getOrElse(0L)).sum)
  }

  /** On-disk bytes and part-file count of an artifact's live data. */
  def artifactFiles(dir: String): (Long, Int) = {
    val tables = graft.io.JsonTableIO.listTables(dir)
    val files = tables.map(graft.io.JsonTableIO.dataPath(dir, _))
      .filter(java.nio.file.Files.isDirectory(_)).flatMap { d =>
      val s = java.nio.file.Files.list(d)
      try s.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
        .filter(_.getFileName.toString.startsWith("part-"))
      finally s.close()
    }
    (files.map(java.nio.file.Files.size).sum, files.size)
  }

  private def big(d: java.math.BigDecimal): BigInt =
    if (d == null) BigInt(0) else BigInt(d.toBigIntegerExact)

  def withConn[T](url: String)(f: java.sql.Connection => T): T = {
    val c = DriverManager.getConnection(url)
    try f(c) finally c.close()
  }
}
