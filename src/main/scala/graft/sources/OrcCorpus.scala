package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** ORC corpus source — the third interchange family after JSONL and
  * TSV, with the COLUMNAR failure mode: ORC files are schema-enforced
  * binaries, so rows cannot be syntactically malformed (JSONL's broken
  * braces) or token-drifted (TSV's shifted columns); what breaks
  * instead is SCHEMA DRIFT — shards written before a column existed.
  * The read contract makes that explicit: callers read with the
  * CURRENT schema and ORC's name-based evolution fills columns absent
  * from older shards with NULL (`spark.sql.orc.forcePositionalEvolution`
  * stays false — positional matching would silently misalign renamed
  * columns instead). Downstream treats NULL-in-required as the
  * quarantine signal, same role as the corrupt-record column in the
  * text formats.
  *
  * Scale: ORC stripes are splittable and carry min/max stats, so reads
  * parallelize and prune exactly like parquet — a corpus landing as
  * ORC needs no conversion pass before the pipeline consumes it. */
object OrcCorpus {

  /** Read ORC corpus directories under the caller's current schema;
    * shards predating a column yield NULL for it (name-based
    * evolution). */
  def read(spark: SparkSession, schema: StructType,
      paths: String*): DataFrame =
    spark.read.schema(schema).orc(paths: _*)

  /** Write `docs` as ORC under `path`. */
  def write(docs: DataFrame, path: String): Unit =
    docs.write.mode("overwrite").orc(path)

  /** Build the mixed-generation fixture the ingest query reads: a
    * LEGACY shard written before `evolvedCol` existed (the column is
    * dropped) and a CURRENT shard with the full schema, split by
    * even/odd id. Marker-gated like the other persisted fixtures. */
  def ensureEvolvedFixture(docs: DataFrame, path: String,
      evolvedCol: String, idCol: String = "doc_id"): Option[Double] =
    StoreFiles.markerGate(docs.sparkSession, path,
      s"""{"evolved":"$evolvedCol","id":"$idCol"}""") {
      // each generation dir is overwritten in place
      docs.filter(col(idCol) % 2 === 0).drop(evolvedCol)
        .write.mode("overwrite").orc(s"$path/legacy")
      docs.filter(col(idCol) % 2 =!= 0)
        .write.mode("overwrite").orc(s"$path/current")
    }
}
