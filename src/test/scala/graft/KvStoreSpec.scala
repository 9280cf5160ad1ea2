package graft

import graft.operators.KvShuffle
import graft.server.{KvClient, KvProtocol, KvServer}
import org.scalatest.funsuite.AnyFunSuite

/** O14 — the KV-store exchange: wire-dialect round trips, reference
  * partitioner parity, and the end-to-end shuffle-over-KV word count
  * against the declarative answer.
  */
class KvStoreSpec extends AnyFunSuite {
  private lazy val spark = LocalSpark.spark

  private def withServer[A](f: KvServer => A): A = {
    val s = new KvServer()
    try f(s) finally s.close()
  }

  test("set/get/append/delete round-trip the reference dialect") {
    withServer { srv =>
      val kv = new KvClient("127.0.0.1", srv.port)
      try {
        assert(kv.get("missing") == null)
        assert(kv.set("job1_status", "STARTED") == KvProtocol.Stored)
        assert(kv.get("job1_status") == "STARTED")
        assert(kv.set("job1_status", "DONE") == KvProtocol.Stored)
        assert(kv.get("job1_status") == "DONE")
        // append creates on first write, concatenates after — the mapper
        // intermediate-results contract
        assert(kv.append("partition_0", "a\t1\r,") == KvProtocol.Stored)
        assert(kv.append("partition_0", "b\t1\r,") == KvProtocol.Stored)
        assert(kv.get("partition_0") == "a\t1\r,b\t1\r,")
        assert(kv.delete("partition_0") == KvProtocol.Deleted)
        assert(kv.delete("partition_0") == KvProtocol.NotFound)
        assert(kv.get("partition_0") == null)
      } finally kv.close()
    }
  }

  test("multi-line and large values survive the size-framed GET") {
    withServer { srv =>
      val kv = new KvClient("127.0.0.1", srv.port)
      try {
        val v = (1 to 500).map(i => s"line$i\tpayload$i").mkString("\n")
        assert(kv.set("big", v) == KvProtocol.Stored)
        assert(kv.get("big") == v)
      } finally kv.close()
    }
  }

  test("referencePartition equals the reference's big-integer formula") {
    // int(''.join(str(ord(c)) for c in x)) % reducers, via BigInt over
    // code points (Python's ord), not UTF-16 chars
    def ref(key: String, reducers: Int): Int =
      (BigInt(key.codePoints.toArray.map(_.toString).mkString) mod BigInt(reducers)).toInt
    // \u0001: a 1-digit code; € 8364; the BOM U+FEFF 65279, which starts
    // every third mr_books file; 😀 U+1F600 128512, a surrogate pair in Java
    val words = Seq("a", "the", "zebra", "hash", "partition", "x1",
      "longerwordwithmanychars", "Ab", "\u0001", "a\u0001b", "\u20AC", "10\u20AC",
      "\uFEFFthe", "\uD83D\uDE00", "a\uD83D\uDE00b", "\uD83D\uDE00\uD83D\uDE00")
    for (w <- words; r <- Seq(2, 3, 8, 13))
      assert(KvShuffle.referencePartition(w, r) == ref(w, r), s"$w mod $r")
  }

  test("word count through the KV exchange equals the declarative word count") {
    withServer { srv =>
      val docs = Tables.t(spark, "/root/testdata/sf0.001", "documents")
      val viaKv = KvShuffle.wordCountViaKv(spark, docs, "127.0.0.1", srv.port,
          jobId = "spec", reducers = 5)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val plain = operators.TextAnalysis.wordCount(docs)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(viaKv == plain)
      // mapper tasks flagged DONE, reference-style
      val kv = new KvClient("127.0.0.1", srv.port)
      try assert(kv.get("spec_status") == "DONE") finally kv.close()
    }
  }
}
