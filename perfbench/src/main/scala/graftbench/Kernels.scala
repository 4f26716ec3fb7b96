package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{TextHashing, VectorKernels}
import graft.kv.Wal
import graft.operators.{Dedup, Similarity}
import graft.sources.Tables

/** Kernel microbenchmarks: graft's codegen'd functions called directly
  * over in-memory inputs, with no Spark job, so kernel cost reads apart
  * from framework cost. Inputs are the benchmark's documents and
  * embeddings, collected once before timing. */
object Kernels {
  /** Accumulates every kernel result so the JIT cannot drop the calls. */
  @volatile var sink: Double = 0.0

  /** Rows per second of `f` over `n` inputs: the median of `slices`
    * timed slices, each looping the inputs until it has run for
    * `sliceS` seconds, after one untimed slice. */
  def rate(n: Int, sliceS: Double, slices: Int)(f: Int => Double): Double = {
    def slice(): Double = {
      val t0 = System.nanoTime()
      val end = t0 + (sliceS * 1e9).toLong
      var rows = 0L
      var acc = 0.0
      while (System.nanoTime() < end) {
        var i = 0
        while (i < n) { acc += f(i); i += 1 }
        rows += n
      }
      sink += acc
      rows / ((System.nanoTime() - t0) / 1e9)
    }
    slice()
    val rates = (1 to slices).map(_ => slice()).sorted
    (rates((slices - 1) / 2) + rates(slices / 2)) / 2
  }

  /** rows/s of each kernel, keyed by kernel name, and the number of
    * documents and embeddings the inputs were built from. */
  def functions(spark: SparkSession, dir: String, sliceS: Double)
      : (Map[String, Double], Map[String, Int]) = {
    val texts = Tables.load(spark, dir, "documents").select("text").collect()
      .map(r => UTF8String.fromString(r.getString(0)))
    val vecs = Tables.load(spark, dir, "embeddings").select("embedding").collect()
      .map(r => r.getSeq[Float](0).map(_.toDouble).toArray)
    val vecData: Array[ArrayData] = vecs.map(v => UnsafeArrayData.fromPrimitiveArray(v))
    // PQ codebook from the first K vectors' subvectors, flat
    // [(m*K + k)*subDim + d], the layout graft_pq_encode reads
    val (m, k) = (Similarity.PqM, Similarity.PqK)
    val sub = Similarity.PqSubDim
    val codebook = Array.tabulate(m * k * sub) { i =>
      val d = i % sub; val mk = i / sub
      vecs(mk % k)((mk / k) * sub + d)
    }
    val cbData = UnsafeArrayData.fromPrimitiveArray(codebook)
    val codes = vecData.map(v => VectorKernels.pqEncode(v, cbData, m, k))
    val q = vecs.last
    val lut = UnsafeArrayData.fromPrimitiveArray(Array.tabulate(m * k) { i =>
      val (mm, kk) = (i / k, i % k)
      (0 until sub).map(d => q(mm * sub + d) * codebook((mm * k + kk) * sub + d)).sum
    })
    val nt = texts.length
    val nv = vecs.length
    def r(n: Int)(f: Int => Double) = rate(n, sliceS, 5)(f)
    val rates = Map(
      "cosine" -> r(nv)(i => VectorKernels.cosine(vecs(i), vecs((i + 1) % nv))),
      "minhash_bands" -> r(nt)(i =>
        TextHashing.minhashBands(texts(i), Dedup.NumHashes, Dedup.Bands).getLong(0).toDouble),
      "simhash64" -> r(nt)(i => TextHashing.simhash64(texts(i)).toDouble),
      "fingerprint64" -> r(nt)(i => TextHashing.fingerprint64(texts(i)).toDouble),
      "quality_counts" -> r(nt)(i => TextHashing.qualityCounts(texts(i)).getLong(0).toDouble),
      "hyperplane_bands" -> r(nv)(i =>
        VectorKernels.hyperplaneBands(vecData(i), Similarity.SigBands).getLong(0).toDouble),
      "pq_encode" -> r(nv)(i => VectorKernels.pqEncode(vecData(i), cbData, m, k).getLong(0).toDouble),
      "adc_dot" -> r(nv)(i => VectorKernels.adcDot(codes(i), lut, k)))
    (rates, Map("documents" -> nt, "embeddings" -> nv))
  }

  /** WAL codec throughput in MB/s of encoded bytes, over `records`. */
  def wal(records: Seq[Wal.Record], sliceS: Double): (Double, Double) = {
    val blob = Wal.encode(records)
    val mb = blob.length / 1e6
    val enc = rate(1, sliceS, 5)(_ => Wal.encode(records).length.toDouble) * mb
    val dec = rate(1, sliceS, 5)(_ => Wal.decode(blob).records.size.toDouble) * mb
    (enc, dec)
  }
}
