package graft.tools

import org.apache.spark.sql.graft.Pin

/** BPE trainer rounds-vs-wall measurement: times the sequential
  * one-job-per-merge trainer against the batched trainer at the same
  * round count over the real word table, printing per-round cost — the
  * evidence for the round-count wall and its fix
  * ([[graft.ops.Bpe.learnMergesBatched]]).
  *
  * Usage: runMain graft.tools.BpeCurve <sfDir> [rounds] [batch]
  */
object BpeCurve {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println("usage: runMain graft.tools.BpeCurve <sfDir> [rounds] [batch]")
      sys.exit(2)
    }
    val dir = args(0)
    val rounds = if (args.length > 1) args(1).toInt else 32
    val batch = if (args.length > 2) args(2).toInt else 8
    val spark = graft.Sessions.local(32)
    spark.sparkContext.setLogLevel("ERROR")
    val docs = graft.io.Tables.documents(spark, dir)
    val w0 = Pin(graft.ops.Bpe.wordFrequencies(docs))
    w0.count() // pin the corpus pass outside both timed windows
    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }
    // batched first so sequential cannot ride its JIT warmup
    val ((mb, _), tBat) = time(graft.ops.Bpe.learnMergesBatched(w0, rounds, batch))
    val ((ms, _), tSeq) = time(graft.ops.Bpe.learnMerges(w0, rounds))
    println(f"""{"sf_dir":"$dir","rounds":$rounds,"batch":$batch,""" +
      f""""seq_s":$tSeq%.2f,"seq_per_round_s":${tSeq / ms.length}%.3f,""" +
      f""""batched_s":$tBat%.2f,"batched_per_round_s":${tBat / mb.length}%.3f,""" +
      f""""seq_merges":${ms.length},"batched_merges":${mb.length}}""")
    spark.stop()
  }
}
