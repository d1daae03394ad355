package graft

import graft.cli.GraftSession
import graft.multimodal.{AudioCodec, ImageCodec, VideoCodec}

/** Scale evidence for the multimodal codec surface (p10/p16/p18/p23),
  * sibling of DedupBench/VectorBench: synthesize-and-decode throughput
  * of the three container walks over an executor-generated corpus, at
  * a size the sf parquet tables don't reach. Per doc the kernel
  * derives container parameters and body bytes from the id with a
  * cheap mixing function (no md5 — the bench measures the CODECS),
  * synthesizes the container, decodes it back, and emits the decoded
  * fields; the driver recomputes the expected field sums from the
  * same id formulas, so a wrong synth or parse fails the bench rather
  * than inflating its numbers. Everything is one narrow mapPartitions
  * per codec — no shuffle until the final sum, mirroring the QDefs'
  * plan shape.
  *
  * Usage: runMain graft.MultimodalBench [nDocs] (default 1,000,000).
  */
object MultimodalBench {

  /** Deterministic per-doc parameters, shared by kernel and checker. */
  private def bodyLen(id: Long): Int = 64 + (mix(id, 0) % 129).toInt
  private def mix(id: Long, k: Int): Long = {
    val x = id * 0x9e3779b97f4a7c15L + k * 0xbf58476d1ce4e5b9L
    val y = (x ^ (x >>> 31)) * 0x94d049bb133111ebL
    (y ^ (y >>> 29)) & 0x7fffffffffffffffL
  }
  private def body(id: Long): Array[Byte] =
    Array.tabulate(bodyLen(id))(k => (mix(id, k + 1) & 0xff).toByte)

  private def imgW(id: Long): Int = 64 + (mix(id, 901) % 513).toInt
  private def imgH(id: Long): Int = 64 + (mix(id, 902) % 417).toInt
  private def wavRate(id: Long): Int = 8000 * (1 + (mix(id, 903) % 5).toInt)
  private def wavChans(id: Long): Int = 1 + (id % 2).toInt
  private def vidW(id: Long): Int = 2 * (4 + (mix(id, 904) % 13).toInt)
  private def vidH(id: Long): Int = 2 * (3 + (mix(id, 905) % 11).toInt)
  private def vidFrames(id: Long): Int = 1 + (mix(id, 906) % 4).toInt

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(1000000L)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = GraftSession.build(s"local[$cpus]")
    import spark.implicits._

    def timed(name: String, expect: (Long, Long))(
        kernel: Long => (Long, Long, Long)): Unit = {
      val t0 = System.nanoTime()
      val (f1, f2, bytes) = spark.range(0, n).as[Long]
        .mapPartitions(_.map(kernel))
        .reduce((a, b) => (a._1 + b._1, a._2 + b._2, a._3 + b._3))
      val secs = (System.nanoTime() - t0) / 1e9
      require((f1, f2) == expect,
        s"$name decoded sums ($f1,$f2) != expected $expect")
      println(f"[mm-bench] $name: n=$n wall=$secs%.2f s " +
        f"(${n / secs}%.0f docs/s, ${bytes / secs / 1e6}%.0f MB/s synthesized)")
    }

    // Expected sums from the same formulas the kernel uses (a wrong
    // codec walk cannot reproduce these from the bytes).
    var expImg = (0L, 0L)
    var expWav = (0L, 0L)
    var expVid = (0L, 0L)
    var id = 0L
    while (id < n) {
      expImg = (expImg._1 + imgW(id), expImg._2 + imgH(id))
      val ba = wavChans(id) * 2
      expWav = (expWav._1 + wavRate(id), expWav._2 + bodyLen(id) / ba)
      val b = body(id)
      var s = 0L
      var i = 0
      val nf = vidFrames(id)
      while (i < nf) { if (i % 2 == 0) s += b((i * 17) % b.length) & 0xff; i += 1 }
      expVid = (expVid._1 + nf, expVid._2 + s)
      id += 1
    }

    timed("image png/jpeg", expImg) { id =>
      val payload =
        if (id % 2 == 0) ImageCodec.synthesizePng(imgW(id), imgH(id), body(id))
        else ImageCodec.synthesizeJpeg(imgW(id), imgH(id), body(id))
      val dims = ImageCodec.decodeDims(payload)
      (dims.width.toLong, dims.height.toLong, payload.length.toLong)
    }

    timed("audio wav", expWav) { id =>
      val payload = AudioCodec.synthesizeWav(wavRate(id), wavChans(id), body(id))
      val info = AudioCodec.decodeWav(payload)
      val nSamples = info.dataLen.toLong / (info.channels * info.bitsPerSample / 8)
      (info.sampleRate.toLong, nSamples, payload.length.toLong)
    }

    timed("video y4m", expVid) { id =>
      val b = body(id)
      val fills = Array.tabulate(vidFrames(id))(i => b((i * 17) % b.length))
      val payload = VideoCodec.synthesizeY4m(
        vidW(id), vidH(id), 25, 1, fills, altOrder = id % 2 == 1)
      val info = VideoCodec.decodeY4m(payload)
      var s = 0L
      var i = 0
      while (i < info.frameFirstBytes.length) {
        if (i % 2 == 0) s += info.frameFirstBytes(i); i += 1
      }
      (info.frameFirstBytes.length.toLong, s, payload.length.toLong)
    }

    spark.stop()
  }
}
