package graftbench

import java.nio.charset.StandardCharsets

import graft.core.{CnfBase, Dimacs, TextKernels}

/** Spark-free, single-threaded timing of the `graft.core` byte kernels over
  * a seeded sample of the workload's own documents. Each kernel loops over
  * the whole sample until at least `minSeconds` have passed; the first loop
  * is a warm-up and is not counted.
  */
object CoreProbe {
  private val minSeconds = 0.25

  private def perUnit(units: Double)(once: () => Long): Double = {
    var sink = once() // warm-up
    var n = 0
    val t0 = System.nanoTime()
    var t = t0
    while (t - t0 < minSeconds * 1e9) {
      sink ^= once()
      n += 1
      t = System.nanoTime()
    }
    if (sink == 42) print("") // keep the results alive
    (t - t0).toDouble / n / units
  }

  def run(docs: Seq[String], result: Result): Unit = {
    val bytes = docs.map(_.getBytes(StandardCharsets.UTF_8)).toArray
    val totalBytes = bytes.map(_.length.toLong).sum.toDouble
    result.layer("core.gbd_hash.ns_per_byte") = perUnit(totalBytes) { () =>
      var h = 0L; bytes.foreach(b => h += Dimacs.gbdHashCnf(b).hashCode); h
    }
    result.layer("core.cnf_features.ns_per_byte") = perUnit(totalBytes) { () =>
      var h = 0L; bytes.foreach(b => h += CnfBase.extract(b).length); h
    }
    result.layer("core.shingles.ns_per_byte") = perUnit(totalBytes) { () =>
      var h = 0L; docs.foreach(d => h += TextKernels.shingles(d, 5).length); h
    }
    val sh = docs.map(TextKernels.shingles(_, 5)).toArray
    result.layer("core.minhash_from_shingles.ns_per_doc") = perUnit(sh.length.toDouble) { () =>
      var h = 0L; sh.foreach(s => h += TextKernels.minHashFromShingles(s, 128)(0)); h
    }
  }
}
