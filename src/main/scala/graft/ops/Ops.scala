package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Serving/ops-plane operators (SURVEY §2.2 K8/K9/K11/K13).
  *
  * K8 export: cost-gated warehouse→file extract — the reference dry-runs
  * the query and refuses >5 GiB scans (utils/dump_to_gcs/tasks.py:27-164);
  * we gate on the optimizer's size estimate, then write gzip CSV.
  * K9 KV sink and K11 messaging are small driver-side sinks behind
  * interfaces (Redis/webhooks in production, in-memory in tests).
  */
object Export {

  final case class ExportRefusedException(estimatedBytes: BigInt, capBytes: Long)
    extends RuntimeException(
      s"estimated scan $estimatedBytes B exceeds cap $capBytes B")

  /** Optimizer-estimated input size of the query (the dry-run). */
  def estimateBytes(df: DataFrame): BigInt =
    df.queryExecution.optimizedPlan.stats.sizeInBytes

  /** K8: gzip CSV export, refused when the cost gate trips. */
  def gzipCsv(df: DataFrame, path: String,
              maxBytes: Long = 5L * 1024 * 1024 * 1024): Unit = {
    val est = estimateBytes(df)
    if (est > maxBytes) throw ExportRefusedException(est, maxBytes)
    df.write.mode("overwrite")
      .option("compression", "gzip").option("header", "true").csv(path)
  }
}

/** K9: key/value dashboard sink (rain_dashboard shape —
  * rj_escritorio/rain_dashboard/tasks.py:56-79): the query result is
  * serialized as JSON records under one key. */
trait KvSink { def set(key: String, value: String): Unit }

final class InMemoryKv extends KvSink {
  val store = scala.collection.concurrent.TrieMap[String, String]()
  def set(key: String, value: String): Unit = store.put(key, value)
}

object KvPublish {
  /** Collect is bounded by `limit` — dashboards are small by contract. */
  def publish(df: DataFrame, sink: KvSink, key: String, limit: Int = 10000): Unit =
    sink.set(key, "[" + df.limit(limit).toJSON.collect().mkString(",") + "]")
}

/** K12: spreadsheet-shaped sink (data-catalog export,
  * rj_escritorio/data_catalog/tasks.py:170-215): header + string rows.
  * gspread in production; in-memory for tests. */
trait SheetSink { def update(header: Seq[String], rows: Seq[Seq[String]]): Unit }

final class InMemorySheet extends SheetSink {
  var header: Seq[String] = Nil
  var rows: Seq[Seq[String]] = Nil
  def update(h: Seq[String], r: Seq[Seq[String]]): Unit = { header = h; rows = r }
}

object SheetPublish {
  def publish(df: DataFrame, sink: SheetSink, limit: Int = 10000): Unit = {
    val header = df.columns.toIndexedSeq
    val rows = df.limit(limit).collect()
      .map(_.toSeq.map(v => if (v == null) "" else v.toString).toIndexedSeq)
      .toIndexedSeq
    sink.update(header, rows)
  }
}

/** K11: alert/messaging hooks with the reference's 2000-char chunk split
  * (utils/utils.py:358-385). */
trait Alerter { def send(message: String): Unit }

final class BufferAlerter extends Alerter {
  val sent = scala.collection.mutable.ArrayBuffer[String]()
  def send(message: String): Unit = sent += message
}

/** Stdout fallback for CLI entry points with no webhook configured —
  * the alert still lands in the job log instead of vanishing. */
final class ConsoleAlerter extends Alerter {
  def send(message: String): Unit = println(s"[alert] $message")
}

object Alerts {
  def sendChunked(alerter: Alerter, message: String, chunk: Int = 2000): Unit =
    message.grouped(chunk).foreach(alerter.send)
}

/** Governance report: the IAM policy-matrix flatten
  * (utils/policy_matrix/tasks.py:56-136). The reference fetches per-
  * project IAM bindings from the Cloud Resource Manager API and
  * flattens them to (project_id, type, email, role) rows for a
  * spreadsheet; the data-plane half is this flatten — nested
  * bindings documents → normalized rows — which at fleet scale (many
  * projects × many bindings) is a plain explode, not a driver loop.
  * The API fetch is a live-transport connector (spec-verified request
  * shape, like GSuite/Twitter — no live HTTP in the sandbox). */
object PolicyMatrix {
  import org.apache.spark.sql.functions._

  /** `policies` rows: (project_id, bindings) where bindings is
    * array<struct<role string, members array<string>>> — the
    * getIamPolicy response shape. Members are `type:email` strings;
    * rows come back one per (project, member, role), member split
    * into its type and email halves (the reference's exact columns,
    * in its column order). */
  def rolesMatrix(policies: DataFrame): DataFrame =
    policies
      .select(col("project_id"), explode(col("bindings")).as("b"))
      .select(col("project_id"), col("b.role").as("role"),
        explode(col("b.members")).as("member"))
      .select(col("project_id"),
        substring_index(col("member"), ":", 1).as("type"),
        substring_index(col("member"), ":", -1).as("email"),
        col("role"))

  /** The Cloud Resource Manager getIamPolicy request body
    * (policy_matrix/tasks.py:40-53) — assembled, not sent. */
  def getIamPolicyRequest(requestedPolicyVersion: Int = 1): String =
    s"""{"options": {"requestedPolicyVersion": $requestedPolicyVersion}}"""
}

/** Earth Engine table-asset registration
  * (utils/dump_earth_engine_asset/tasks.py:216-252): the data-plane
  * half of that flow — the cost-gated query→GCS export — is [[Export]]
  * (K8); what remains is ONE ingestion call registering the exported
  * file as an EE table asset. Request assembly is exact and
  * spec-verified; transport is a live connector boundary (no
  * credentials/HTTP in the sandbox), the GSuite/Twitter convention. */
object EarthEngine {
  /** `startTableIngestion` params for a GCS-hosted table
    * (tasks.py:245-248): asset name + primary source path + charset. */
  def tableIngestionParams(eeAssetPath: String, gcsFilePath: String,
                           charset: String = "UTF-8"): String = {
    require(eeAssetPath.startsWith("projects/") ||
        eeAssetPath.startsWith("users/"),
      s"ee asset path must be projects/... or users/...: $eeAssetPath")
    require(gcsFilePath.startsWith("gs://"),
      s"source must be a GCS path: $gcsFilePath")
    s"""{"name": "$eeAssetPath", "sources": [{"primaryPath": "$gcsFilePath", "charset": "$charset"}]}"""
  }
}
