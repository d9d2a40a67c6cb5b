package graft.multimodal

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column handling for the training-data pipeline: media
  * payloads ride as opaque `binary` columns with typed metadata, and
  * feature extraction samples the payload instead of decoding it fully —
  * the shape that keeps 100 TB of images/audio inside the relational
  * plan (scan → narrow map → agg/join) with no driver round-trips.
  *
  * The actual codec step is STUBBED: this container ships no image/audio
  * libraries, so [[decodeStub]] derives deterministic fake features from
  * the raw bytes (documented as such). The Spark-side plumbing — schema,
  * binary columns, sampled access, codegen'd byte ops — is real and
  * oracle-tested (q38); swapping the stub for a real codec changes one
  * function.
  */
object Multimodal {

  /** STUB decode: deterministic fake features from raw bytes (payload
    * size, content digest, k byte values sampled at stride len/k — the
    * "frame sampling" access pattern, O(k) per row regardless of payload
    * size). A real deployment replaces this with an image/audio codec
    * behind the same signature.
    */
  def decodeStub(colName: String, k: Int): Seq[Column] = {
    val sampled = (0 until k).map { i =>
      expr(s"ascii(substring($colName, " +
        s"CAST(1 + (((length($colName)-1)*$i) div $k) AS INT), 1))")
        .as(s"sample_$i")
    }
    Seq(octet_length(col(colName)).as("n_bytes"),
      md5(col(colName).cast(BinaryType)).as("content_md5")) ++ sampled
  }
}
