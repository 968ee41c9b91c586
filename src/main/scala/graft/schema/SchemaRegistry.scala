package graft.schema

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

import graft.util.FileCommit

/** Parquet-backed table catalog with create-or-evolve semantics — the
  * Spark-side analogue of the reference's `createOrUpdateTable`
  * (`pkg/usecase/bigquery.go:15-45`): merge the incoming inferred schema
  * into the live table schema, short-circuit when nothing changes, and
  * guard concurrent DDL with optimistic versioning (the reference uses a
  * BigQuery ETag compare-and-set, `pkg/infra/bq/client.go:198-204`).
  *
  * Layout under `root`:
  * {{{
  *   <dataset>/<table>/schema.json     // versioned: {"version":N,"schema":{...}}
  *   <dataset>/<table>/data/           // parquet, optionally partitioned by __part
  * }}}
  *
  * Scale note: table *data* paths here are plain parquet dirs because the
  * test environment has no transactional table format; on a real cluster
  * the identical interface fronts a Delta/Iceberg catalog whose commit
  * protocol replaces the per-table JVM lock (multi-writer DDL is then a
  * catalog concern, not an engine concern). Schema files are tiny driver-
  * side metadata — never in the executor hot path.
  */
final class SchemaRegistry(rootDir: String) extends TableBackend {

  private val locks = new ConcurrentHashMap[String, Object]()
  private def lockFor(key: String): Object =
    locks.computeIfAbsent(key, _ => new Object)

  def tableDir(dataset: String, table: String): Path =
    Paths.get(rootDir, dataset, table)
  def dataDir(dataset: String, table: String): String =
    tableDir(dataset, table).resolve("data").toString
  private def schemaFile(dataset: String, table: String): Path =
    tableDir(dataset, table).resolve("schema.json")

  override def exists(dataset: String, table: String): Boolean =
    Files.exists(schemaFile(dataset, table))

  override def currentSchema(dataset: String, table: String): Option[(Int, StructType)] = {
    FileCommit.read(schemaFile(dataset, table)).map { txt =>
      // {"version":N,"schema":<spark json>}
      val vIdx = txt.indexOf("\"version\":")
      val version = txt.substring(vIdx + 10, txt.indexOf(',', vIdx)).trim.toInt
      val sIdx = txt.indexOf("\"schema\":")
      val schemaJson = txt.substring(sIdx + 9, txt.lastIndexOf('}'))
      version -> DataType.fromJson(schemaJson).asInstanceOf[StructType]
    }
  }

  /** Merge `incoming` into the live schema; create the table if absent;
    * no-op when the merged schema equals the live one (the reference's
    * merge-equal short-circuit, `bigquery.go:31-34`). Returns the table's
    * effective schema. Serialized per table.
    */
  override def createOrUpdate(dataset: String, table: String, incoming: StructType): StructType =
    lockFor(s"$dataset.$table").synchronized {
      currentSchema(dataset, table) match {
        case None =>
          write(dataset, table, 1, incoming)
          incoming
        case Some((version, live)) =>
          val merged = SchemaMerge.merge(live, incoming)
          if (SchemaMerge.normalize(merged) == SchemaMerge.normalize(live)) live
          else { write(dataset, table, version + 1, merged); merged }
      }
    }

  private def write(dataset: String, table: String, version: Int, s: StructType): Unit =
    FileCommit.replace(schemaFile(dataset, table),
      s"""{"version":$version,"schema":${s.json}}""".getBytes("UTF-8"))

  /** Read a table under its live (evolved) schema: parquet files written
    * before an evolution lack the new columns; reading with the merged
    * schema surfaces them as NULLs — same read semantics BigQuery gives
    * after ALTER TABLE ADD COLUMN. */
  def read(spark: SparkSession, dataset: String, table: String): DataFrame = {
    val (_, schema) = currentSchema(dataset, table)
      .getOrElse(sys.error(s"no such table $dataset.$table"))
    spark.read.schema(schema).parquet(dataDir(dataset, table))
  }

  /** [[TableBackend]]: plain partitioned parquet append under the
    * table's data dir. Per-batch atomicity comes from the Hadoop commit
    * protocol (task outputs stage under `_temporary` and move on job
    * commit); telemetry tables use this same path without a registered
    * schema — schema-on-read suffices for `_meta.*`.
    *
    * Serialized per table within this JVM: two concurrent jobs writing
    * one parquet dir share the committer's `_temporary` staging, and
    * the first job's cleanup deletes the second's pending task outputs
    * (concurrent writers to one path are unsupported by the Hadoop
    * committer). The per-table lock makes same-session concurrency —
    * two streams appending one table — safe; different tables still
    * append fully in parallel. Cross-JVM writers need a transactional
    * table format (the Delta/Iceberg note in the class doc). */
  override def appendPartitioned(dataset: String, table: String, df: DataFrame): Unit =
    lockFor(s"$dataset.$table#write").synchronized {
      df.write.mode("append").partitionBy("__part").parquet(dataDir(dataset, table))
    }

  /** [[TableBackend]]: live schema + `__part` surfaced for partition-
    * pruned scans (dedup's anti-join reads only the batch's slices). */
  override def readWithPart(spark: SparkSession, dataset: String,
      table: String): DataFrame = {
    val (_, schema) = currentSchema(dataset, table)
      .getOrElse(sys.error(s"no such table $dataset.$table"))
    spark.read.schema(schema.add("__part", org.apache.spark.sql.types.StringType))
      .parquet(dataDir(dataset, table))
  }

  def listTables(): Seq[(String, String)] = {
    val root = Paths.get(rootDir)
    if (!Files.exists(root)) Nil
    else {
      import scala.jdk.CollectionConverters._
      Files.list(root).iterator.asScala.filter(Files.isDirectory(_)).flatMap { ds =>
        Files.list(ds).iterator.asScala
          .filter(t => Files.exists(t.resolve("schema.json")))
          .map(t => ds.getFileName.toString -> t.getFileName.toString)
      }.toSeq
    }
  }
}
