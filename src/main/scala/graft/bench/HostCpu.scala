package graft.bench

/** Host-level CPU accounting for the bench sweep — the counterpart to
  * the tracer's Spark-internal counters ([[graft.Trace]]), and the instrument that
  * ended round 12's "ambient load" re-litigation: the official r12
  * per-query inflations clustered in CONTIGUOUS alphabetical windows of
  * the sweep schedule (q135–q175 at 1.5–10×, q487–q488 both ~5.5×)
  * including queries with no checkpoint or window in them at all, while
  * the instrumented r13 sweep measured ZERO spill/eviction under the
  * same harness — i.e. the slowdowns were transient co-located load on
  * the host, not anything inside Spark. These counters make that
  * visible PER QUERY in the committed stats artifact: `otherBusyFrac`
  * is the fraction of total host CPU capacity consumed by processes
  * OTHER than this JVM during the query's window.
  *
  * Reads `/proc/stat` (whole host) and `/proc/self/stat` (this JVM);
  * on a platform without procfs every sample is zero and the derived
  * fractions are 0 — the harness then simply never flags contention. */
object HostCpu {

  /** (total host jiffies across all cpus, busy host jiffies, own jiffies). */
  final case class Sample(total: Long, busy: Long, self: Long)

  def sample(): Sample = {
    try {
      val stat = scala.io.Source.fromFile("/proc/stat")
      val cpu = try stat.getLines().next() finally stat.close()
      // "cpu  user nice system idle iowait irq softirq steal guest
      // guest_nice" — guest and guest_nice (fields 9–10) are ALREADY
      // accounted inside user/nice by the kernel, so summing all ten
      // double-counts guest time on virtualized hosts, inflating the
      // denominator and deflating both fractions (a contention burst
      // could then read below the 20% retry threshold). Sum only the
      // eight mutually exclusive buckets user..steal.
      val f = cpu.split("\\s+").drop(1).flatMap(_.toLongOption)
      val total = f.take(8).sum
      val idle = f.lift(3).getOrElse(0L) + f.lift(4).getOrElse(0L)
      val self0 = scala.io.Source.fromFile("/proc/self/stat")
      val line = try self0.getLines().next() finally self0.close()
      // fields after the "(comm)" parens: state ppid … utime(12) stime(13)
      val rest = line.substring(line.lastIndexOf(')') + 2).split(" ")
      val own = rest(11).toLong + rest(12).toLong
      Sample(total, total - idle, own)
    } catch { case _: Throwable => Sample(0L, 0L, 0L) }
  }

  /** (otherBusyFrac, selfBusyFrac) over the window [a, b]: fractions of
    * the host's total CPU capacity burned by other processes vs this
    * JVM. Zero-width or unavailable windows read as (0, 0). */
  def fracs(a: Sample, b: Sample): (Double, Double) = {
    val total = (b.total - a.total).toDouble
    if (total <= 0) return (0.0, 0.0)
    val self = math.max(b.self - a.self, 0L).toDouble
    val other = math.max((b.busy - a.busy) - self, 0.0)
    (other / total, self / total)
  }
}
