package graft.operators

import graft.functions.TextFns
import graft.server.KvClient
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** O14 shuffle-over-KV facade: the reference's mapper→store→reducer
  * exchange (mapper_node.py:22-49, reducer_node.py:70-87) executed by Spark
  * tasks against a [[graft.server.KvServer]].
  *
  * Byte-level reference parity, so ported jobs see identical intermediate
  * state:
  *  - partitioner: the digit-ordinal hash — concatenate the DECIMAL codes
  *    of the key's characters into one integer, mod reducers
  *    (mapper_node.py:27 `int(''.join(str(ord(c)) for c in x)) % reducers`)
  *    — computed here by streaming Horner steps instead of a big integer,
  *    identically valued;
  *  - record framing: `"key\tvalue\r,"` runs appended per partition key
  *    (mapper_node.py:31-36), partition keys named `partition_<reducer id>`;
  *  - task protocol: each map task buffers its partition runs locally and
  *    issues ONE `append` per touched key, then flags `<job>_status = DONE`
  *    (store_intermediate_results); each reduce task `get`s exactly its own
  *    partition key.
  *
  * Spark-first notes: the map phase is `foreachPartition` (an action — its
  * completion IS the mapper barrier the reference's master polls for), the
  * reduce phase one task per partition key. This surface is for migrating
  * reference workloads and for control-plane-sized data; the scale path for
  * real shuffles remains Spark's BlockManager (see KvStore.scala scaladoc).
  */
object KvShuffle {

  /** Reference partitioner: digits of each code point's decimal code
    * concatenated, mod `reducers`. Streaming Horner form of the reference's
    * big-integer (appending the d-digit number c to n is n*10^d + c, and mod
    * distributes), so the value matches for any key length without
    * arbitrary precision or a String per character. Walks code points, not
    * UTF-16 chars: Python's `ord` sees 😀 as 128512, not two surrogates.
    */
  def referencePartition(key: String, reducers: Int): Int = {
    var acc = 0L
    var i = 0
    while (i < key.length) {
      val cp = key.codePointAt(i)
      var shift = 10L
      while (shift <= cp) shift *= 10
      // acc < reducers and shift <= 10^7 (max code point 1114111): no overflow
      acc = (acc * shift + cp) % reducers
      i += Character.charCount(cp)
    }
    acc.toInt
  }

  /** Word count executed THROUGH the KV exchange: tokenize on executors,
    * emit reference-framed (word, 1) runs partitioned by
    * [[referencePartition]], append to per-reducer keys over real sockets,
    * then one reduce task per key reads, parses, and counts. Returns the
    * (word, cnt) DataFrame — identical to the declarative word count, which
    * is what the tx_kv_shuffle oracle asserts. Unlike [[MapReduce.wordCount]]
    * it does not combine in the mapper: the stored runs stay one `w\t1\r,`
    * record per token so the store holds the reference's bytes.
    */
  def wordCountViaKv(spark: SparkSession, docs: DataFrame, host: String,
                     port: Int, jobId: String, reducers: Int): DataFrame = {
    require(reducers >= 1, s"bad reducer count $reducers")
    val texts = docs.select(col("text"))
    val nMappers = texts.rdd.getNumPartitions
    // ---- map phase (action = mapper barrier) --------------------------
    // Idempotent under task retry / speculative execution: each map task
    // SETs its reference-framed runs under per-mapper keys
    // partition_<job>_<reducer>_m<mapPartition> (set = last-write-wins; a
    // retried attempt recomputes the identical deterministic value), rather
    // than APPENDing to a shared per-reducer key where a second attempt
    // would double every run. The reduce side concatenates mapper runs in
    // mapper order, so the per-reducer byte stream it parses is the same
    // "k\tv\r," framing the reference's aggregate key holds
    // (mapper_node.py:31-36) — parity of the record framing, retry-safety
    // of the write protocol.
    texts.foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
      val mapId = org.apache.spark.TaskContext.getPartitionId()
      val buf = scala.collection.mutable.Map.empty[Int, java.lang.StringBuilder]
      rows.foreach { r =>
        val text = r.getString(0)
        if (text != null) text.split("\\s+").foreach { w =>
          if (w.nonEmpty) {
            val p = referencePartition(w, reducers)
            buf.getOrElseUpdate(p, new java.lang.StringBuilder)
              .append(w).append('\t').append('1').append("\r,")
          }
        }
      }
      if (buf.nonEmpty) {
        val kv = new KvClient(host, port)
        try {
          buf.foreach { case (p, sb) =>
            val res = kv.set(s"partition_${jobId}_${p}_m$mapId", sb.toString)
            require(res == graft.server.KvProtocol.Stored, s"set failed: $res")
          }
          kv.set(s"${jobId}_status", "DONE")
          ()
        } finally kv.close()
      }
      ()
    }
    // ---- reduce phase (one task per partition key) --------------------
    import spark.implicits._
    val counted = spark.sparkContext
      .parallelize(0 until reducers, reducers)
      .mapPartitions { ps =>
        val kv = new KvClient(host, port)
        try {
          ps.flatMap { p =>
            val sb = new java.lang.StringBuilder
            var m = 0
            while (m < nMappers) {
              val run = kv.get(s"partition_${jobId}_${p}_m$m")
              if (run != null) sb.append(run)
              m += 1
            }
            val raw = if (sb.length == 0) null else sb.toString
            if (raw == null) Iterator.empty
            else {
              val counts = scala.collection.mutable.Map.empty[String, Long]
              raw.split("\r,").foreach { rec =>
                val t = rec.indexOf('\t')
                if (t > 0) {
                  val w = rec.substring(0, t)
                  counts(w) = counts.getOrElse(w, 0L) + rec.substring(t + 1).trim.toLong
                }
              }
              counts.iterator
            }
          }.toArray.iterator // drain before the client closes
        } finally kv.close()
      }
    counted.toDF("word", "cnt")
  }
}
