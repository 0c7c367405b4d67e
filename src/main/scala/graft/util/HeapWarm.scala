package graft.util

/** One-time heap materialization for benchmark JVMs.
  *
  * This guest runs virtio_balloon free-page reporting: the hypervisor
  * discards any page the guest frees, and re-supplies it lazily on next
  * touch at ~40-160 MB/s (measured: one sf0.1 query spent 876 s of
  * kernel time minor-faulting 8 GB back in). With -Xms == -Xmx the heap
  * is never reported free once touched, so paying the supply cost once,
  * untimed, up front means no timed query ever pays it. Allocation
  * churn after this reuses the same already-materialized regions.
  */
object HeapWarm {

  /** Touch ~`fraction` of the max heap in 1 MiB chunks (one write per
    * 4 KiB page), then release. Safe to call repeatedly; cost after the
    * first call is just the writes (~1 s for 24 GiB). */
  def pretouch(fraction: Double = 0.6): Unit = {
    val target = (Runtime.getRuntime.maxMemory() * fraction).toLong
    val chunk = 1 << 20
    val nChunks = (target / chunk).toInt
    var keep = new Array[Array[Byte]](nChunks)
    var i = 0
    try {
      while (i < nChunks) {
        val a = new Array[Byte](chunk)
        var p = 0
        while (p < chunk) { a(p) = 1; p += 4096 }
        keep(i) = a
        i += 1
      }
    } catch { case _: OutOfMemoryError => () }
    // after an OutOfMemoryError the heap is full (below 8 GB, G1's regions
    // are 2 MB or less and a 1 MiB chunk can take two): drop the only
    // reference to the chunks before anything else allocates
    keep = null
    System.gc()
  }
}
