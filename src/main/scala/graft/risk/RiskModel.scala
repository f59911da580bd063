package graft.risk

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Versioned model persistence — the engine's replacement for the
 * reference's MLflow log/register/load cycle (`02_var_model.py:164-302`:
 * pyfunc `log_model`, registry `register_model`, stage promotion,
 * `mlflow.pyfunc.load_model`).
 *
 * A model is the per-ticker OLS weights table ([[Training.trainModels]])
 * plus string metadata. The fit is eager and returns the weights as a
 * local relation, so a freshly trained model and one loaded here are
 * equally small plans: neither carries the training lineage into the
 * plans that score against it. Layout (any Hadoop filesystem — local,
 * HDFS, S3):
 *
 *   {root}/{name}/v{N}/weights.parquet   — (ticker, weights[1+4k])
 *   {root}/{name}/v{N}/metadata.json     — name/version/user metadata
 *
 * Versions are monotonically increasing ints (the registry's version
 * counter); `load` without a version resolves the latest. Scoring a
 * loaded model goes through [[Training.score]] — broadcast weights +
 * codegen'd dot product, so a loaded model scores exactly like a fresh
 * one.
 */
object RiskModel {

  /** A loaded model: weights plan + metadata; `score` mirrors the
   * reference pyfunc's `predict` (`02_var_model.py:167-183`). */
  case class Instance(name: String, version: Int,
      metadata: Map[String, String], weights: DataFrame) {
    def score(df: DataFrame, tickerCol: String = "ticker",
        featuresCol: String = "features", outCol: String = "predicted"): DataFrame =
      Training.score(df, weights, tickerCol, featuresCol, outCol)
  }

  private def fs(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Existing version numbers for `name`, ascending. */
  def versions(spark: SparkSession, root: String, name: String): Seq[Int] = {
    val dir = new Path(root, name)
    val f = fs(spark, dir)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq
      .map(_.getPath.getName)
      .collect { case s if s.matches("v\\d+") => s.drop(1).toInt }
      .sorted
  }

  /**
   * Persist `weights` as the next version of `name` under `root`;
   * returns the assigned version. `metadata` is free-form (train date,
   * wsse, config fingerprint — what the reference logs as run params).
   */
  def save(weights: DataFrame, root: String, name: String,
      metadata: Map[String, String] = Map.empty): Int = {
    val spark = weights.sparkSession
    val version = versions(spark, root, name).lastOption.getOrElse(0) + 1
    val dir = new Path(new Path(root, name), s"v$version")
    weights.write.mode("errorifexists").parquet(new Path(dir, "weights.parquet").toString)
    val all = metadata ++ Map("name" -> name, "version" -> version.toString)
    val json = all.toSeq.sortBy(_._1).map { case (k, v) =>
      s""""${escape(k)}":"${escape(v)}""""
    }.mkString("{", ",", "}")
    val out = fs(spark, dir).create(new Path(dir, "metadata.json"), false)
    try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    version
  }

  /** Load `name` at `version` (latest when omitted). */
  def load(spark: SparkSession, root: String, name: String,
      version: Option[Int] = None): Instance = {
    val v = version.orElse(versions(spark, root, name).lastOption).getOrElse(
      throw new IllegalArgumentException(s"no versions of model '$name' under $root"))
    val dir = new Path(new Path(root, name), s"v$v")
    val metaPath = new Path(dir, "metadata.json")
    val in = fs(spark, metaPath).open(metaPath)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    // metadata.json is flat string->string; YAML is a JSON superset and
    // snakeyaml ships in Spark's jars — no extra dependency
    val meta = new org.yaml.snakeyaml.Yaml()
      .load[java.util.Map[String, String]](text).asScala.toMap
    Instance(name, v, meta,
      spark.read.parquet(new Path(dir, "weights.parquet").toString))
  }

  private def escape(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
}
