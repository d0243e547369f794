package e2ebench

import java.io.File
import java.util.SplittableRandom
import java.util.concurrent.{Executors, TimeUnit}

/** Seeded request bodies for the ingest workload, written with their truth.
  * The analyze inputs come from gen_analyze.py. */
object Inputs {
  // ingest request mix: distinct bodies, and records per body (see README.md)
  val Bodies = 120
  val RecsPerBody = 400

  private def parallel(tasks: Seq[() => Unit]): Unit = {
    val pool = Executors.newFixedThreadPool(4)
    try {
      val fs = tasks.map(t => pool.submit(new Runnable { def run(): Unit = t() }))
      fs.foreach(_.get())
    } finally { pool.shutdown(); pool.awaitTermination(1, TimeUnit.MINUTES) }
  }
  private def rnd(seed: Long, stream: Long) = new SplittableRandom(seed * 1000003L + stream)

  /** Logs-heavy mix: 7 in 10 bodies are logs, 2 traces, 1 metrics (all four
    * shapes). Bodies are gzip'd protobuf, as the collector sends them. The
    * mix is a choice; the reference publishes none. */
  def genIngest(seed: Long, dir: File): Unit = {
    val out = new Array[(String, Array[Byte], Truth)](Bodies)
    parallel(Seq.tabulate(4) { w => () =>
      (w until Bodies by 4).foreach { i =>
        val r = rnd(seed, 10000 + i)
        val b = i % 10 match {
          case 7 | 8 => Gen.traces(r, RecsPerBody)
          case 9 => Gen.metrics(r, RecsPerBody / 4, Seq(2, 3, 4, 5))
          case _ => Gen.logs(r, RecsPerBody)
        }
        out(i) = (b.family, Gen.gzip(b.pb), b.truth)
      }
    })
    Gen.writeBodies(new File(dir, "bodies.bin"), out.toSeq)
  }
}
