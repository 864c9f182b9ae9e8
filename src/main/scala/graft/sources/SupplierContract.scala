package graft.sources

/** The live-ingress seam: everything [[OpLogMicroBatchStream]] needs from a
  * replica of the logical binlog stream, as a minimal serializable contract
  * so a real client binding is a drop-in outside the sandbox.
  *
  * Semantics mirror the reference supplier
  * (mysql-replicator-supplier BinaryLogSupplier.java:142-256):
  *
  *  - A replica is addressed by an opaque string (here a file path; for a
  *    live binding, `host:port`). Replicas serve the SAME logical stream,
  *    so stream positions are portable across them — the precondition for
  *    the disconnect→next-host failover loop.
  *  - [[exists]]: is the replica reachable at all? A dead replica must be
  *    ineligible even for an empty stream (never "position 0 available").
  *  - [[purgedFloor]]: the oldest stream position the replica still
  *    retains — the binlog-retention boundary (purged GTIDs in the
  *    reference; `supplier.binlog.fallback.gtid.purged` decides whether a
  *    checkpoint below every floor fails loudly or resumes at the floor).
  *    Positions are ABSOLUTE: rotation advances the floor, never renumbers.
  *  - [[frontier]]: the replica's current end position (floor + retained
  *    events). Only COMPLETE events count — a mid-append torn record stays
  *    beyond the frontier so the next batch reads it whole.
  *  - [[read]]: the wire-encoded events in absolute range [from, until),
  *    decodable by [[OpLogCodec.decode]]. Runs on executors — bindings
  *    must be cheap to serialize (stateless object / small config).
  *
  * The stream built on top supplies, for every binding: failover ordering
  * (first caught-up replica wins), the monotone announce floor, purged-
  * retention fallback, and exactly-once via the engine offset log.
  */
trait SupplierContract extends Serializable {
  def exists(replica: String): Boolean
  def purgedFloor(replica: String): Long
  def frontier(replica: String): Long
  def read(replica: String, from: Long, until: Long): Iterator[String]

  /** Derived: first replica, in configured order, that exists and has
    * caught up to `atLeast`, with the frontier that qualified it — the
    * failover loop's eligibility rule. Each replica is counted once. */
  final def replicaWith(replicas: Seq[String], atLeast: Long): Option[(String, Long)] =
    replicas.iterator.filter(exists).map(r => r -> frontier(r)).find(_._2 >= atLeast)
}

/** File binding: a replica is a local append-only log file; the purged
  * floor lives in a `<path>.purged` sidecar. This is the sandbox stand-in
  * for the live MySQL binding (which would wrap a binlog client's
  * connect/fetch under the same four methods). */
object FileSupplier extends SupplierContract {

  override def exists(replica: String): Boolean = new java.io.File(replica).exists()

  /** Absent/garbled sidecar = nothing purged. */
  override def purgedFloor(replica: String): Long =
    try {
      val f = new java.io.File(replica + ".purged")
      if (!f.exists()) 0L
      else new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8").trim.toLong
    } catch { case _: Exception => 0L }

  /** Floor + newline-TERMINATED physical lines. Terminated only, because a
    * producer may be mid-append and a torn final line must stay outside
    * the frontier so the next micro-batch picks up the completed event
    * instead of the reader consuming (and permissively skipping) a
    * half-written record. */
  override def frontier(replica: String): Long =
    if (!new java.io.File(replica).exists()) 0L
    else purgedFloor(replica) + { val ls = new Lines(replica); try ls.skip(Long.MaxValue) finally ls.close() }

  /** Physical line i holds absolute position `purgedFloor + i`. */
  override def read(replica: String, from: Long, until: Long): Iterator[String] = {
    val purged = purgedFloor(replica)
    val ls = new Lines(replica, limit = until - math.max(from, purged))
    ls.skip(from - purged)
    ls
  }

  /** A log file's newline-terminated lines, scanned as bytes in 64 KiB
    * chunks: `skip` passes lines without decoding them, and the iterator
    * decodes the next `limit` lines strictly as UTF-8, so bytes outside a
    * read's range are never decoded. A torn tail without its newline is
    * never a line. Closes itself when exhausted. */
  private final class Lines(path: String, private var limit: Long = 0L)
      extends Iterator[String] with AutoCloseable {
    private val in = new java.io.FileInputStream(path)
    private val buf = new Array[Byte](1 << 16)
    private var at, end = 0
    private val kept = new java.io.ByteArrayOutputStream()
    private var open = true
    private var ready = false // `kept` holds the next line

    /** Moves past the next newline, keeping the line's bytes when `keep`;
      * false when the file ends first. */
    private def advance(keep: Boolean): Boolean = {
      kept.reset()
      var found = false
      while (!found && (at < end || { end = math.max(in.read(buf), 0); at = 0; end > 0 })) {
        var i = at
        while (i < end && buf(i) != '\n') i += 1
        if (keep) kept.write(buf, at, i - at)
        found = i < end
        at = if (found) i + 1 else end
      }
      found
    }

    /** Passes up to `n` lines; returns how many there were. */
    def skip(n: Long): Long = { var k = 0L; while (k < n && advance(keep = false)) k += 1; k }

    override def hasNext: Boolean = {
      if (!ready && open && limit > 0 && advance(keep = true)) { ready = true; limit -= 1 }
      if (!ready) close()
      ready
    }

    override def next(): String = {
      if (!hasNext) throw new NoSuchElementException("read past the range")
      ready = false
      val b = kept.toByteArray
      val n = if (b.nonEmpty && b.last == '\r') b.length - 1 else b.length
      java.nio.charset.StandardCharsets.UTF_8.newDecoder().decode(java.nio.ByteBuffer.wrap(b, 0, n)).toString
    }

    override def close(): Unit = if (open) { in.close(); open = false }
  }
}
