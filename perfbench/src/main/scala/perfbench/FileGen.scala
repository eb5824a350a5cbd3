package perfbench

import java.io.{BufferedOutputStream, File, FileOutputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardCopyOption}
import scala.collection.mutable

/** One file landing in the inbox: a new object, or an mtime bump of an
  * existing one (`kind = "reupload"`). `pass` is the batch pass before
  * which it landed (-1 in streaming); `schedNs`/`landNs` are the scheduled
  * and actual land times, epoch nanos. */
final case class Landed(name: String, kind: String, size: Long,
    mtimeMs: Long, pass: Int, schedNs: Long, landNs: Long)

/** Seeded generator of inbox files. Files come in cycles of twelve with a
  * fixed make-up, shuffled per cycle by `Random(seed, cycle)`, so every seed
  * lands the same mix and differs only in order, row content and a +-15%
  * size jitter:
  *  - eleven CSVs with a header and rows, sizes on a log ladder from 100 B
  *    to 2 MB, a quarter of them without a trailing newline;
  *  - one special file, in turn each of `specials`: a zero-byte CSV
  *    (`empty`), a header-without-newline CSV, a `"\n"`-only CSV and a
  *    non-CSV file.
  * Batch runs add one CSV above the 64 MB whole-file limit and mtime bumps
  * of earlier CSVs (the streaming file source keys seen files by path, so
  * a bumped file is never redelivered there). */
final class FileGen(seed: Long, staging: File, inbox: File, tracer: Tracer,
    specials: Seq[String]) {
  val landed = mutable.ArrayBuffer.empty[Landed]
  private val plainCsvs = mutable.ArrayBuffer.empty[String]
  private var next = 0
  private val Cycle = 12

  private def rng(salt: Long) = new scala.util.Random(seed * 1000003L + salt)

  /** Kind and target size of file `k`. */
  private def spec(k: Int): (String, Int) = {
    val c = k / Cycle
    val r = rng(c)
    val slot = r.shuffle((0 until Cycle).toList).apply(k % Cycle)
    if (slot == Cycle - 1) (specials(c % specials.size), 0)
    else {
      val jitter = 0.85 + 0.3 * rng(1L << 32 | k).nextDouble()
      ("csv", (100 * math.pow(20000, slot / (Cycle - 2.0)) * jitter).toInt)
    }
  }

  private def csvBody(r: scala.util.Random, target: Int): Array[Byte] = {
    val sb = new java.lang.StringBuilder(target + 64)
    sb.append("id,name,amount,tag\n")
    var i = 0
    while (sb.length < target) {
      sb.append(i).append(",name_").append(r.nextInt(100000)).append(',')
        .append(r.nextInt(1000000)).append(".").append(r.nextInt(100))
        .append(",t").append(r.nextInt(9)).append('\n')
      i += 1
    }
    if (r.nextInt(4) == 0) sb.setLength(sb.length - 1) // no trailing newline
    sb.toString.getBytes(StandardCharsets.UTF_8)
  }

  private def place(name: String, kind: String, write: File => Unit,
      pass: Int, schedNs: Long): Unit = {
    val tmp = new File(staging, name)
    write(tmp)
    val mtime = System.currentTimeMillis()
    tmp.setLastModified(mtime)
    Files.move(tmp.toPath, new File(inbox, name).toPath,
      StandardCopyOption.ATOMIC_MOVE)
    landed += Landed(name, kind, new File(inbox, name).length, mtime, pass,
      schedNs, tracer.nowNs)
    ()
  }

  private def bytes(b: Array[Byte])(f: File): Unit = { Files.write(f.toPath, b); () }

  /** Land the next file of the sequence. */
  def landNext(pass: Int, schedNs: Long): Unit = {
    val k = next
    next += 1
    val stem = f"f$k%06d"
    spec(k) match {
      case ("noncsv", _) => place(s"$stem.json", "noncsv", bytes("{\"k\":1}\n".getBytes), pass, schedNs)
      case ("empty", _) => place(s"$stem.csv", "empty", bytes(Array.emptyByteArray), pass, schedNs)
      case ("newline", _) => place(s"$stem.csv", "newline", bytes("\n".getBytes), pass, schedNs)
      case ("header", _) => place(s"$stem.csv", "header", bytes("id,name,amount".getBytes), pass, schedNs)
      case (_, size) =>
        place(s"$stem.csv", "csv", bytes(csvBody(rng(2L << 32 | k), size)), pass, schedNs)
        plainCsvs += s"$stem.csv"
    }
  }

  /** Land the fixed warm-up CSV number `i` (the same bytes for every seed,
    * so set-up does the same work whatever the seed). */
  def landWarm(i: Int, pass: Int): Unit =
    place(f"warm_$i%02d.csv", "csv", bytes(csvBody(new scala.util.Random(i), 4096)),
      pass, tracer.nowNs)

  /** Land `n` files before batch pass `pass`, plus `bumps` mtime bumps of
    * earlier plain CSVs. */
  def landBatch(n: Int, pass: Int, bumps: Int): Unit = {
    val r = rng(3L << 32 | pass)
    val now = tracer.nowNs
    val old = plainCsvs.toIndexedSeq
    (0 until n).foreach(_ => landNext(pass, now))
    if (old.nonEmpty) (0 until bumps).foreach { _ =>
      val name = old(r.nextInt(old.size))
      val f = new File(inbox, name)
      val mtime = math.max(System.currentTimeMillis(), f.lastModified + 1000L)
      f.setLastModified(mtime)
      landed += Landed(name, "reupload", f.length, mtime, pass, now, tracer.nowNs)
    }
  }

  /** One CSV just above the 64 MB whole-file limit (splittable read path). */
  def landBig(pass: Int): Unit = place("big_0000.csv", "big", { f =>
    val row = ("0123456789,abcdefghij," * 4 + "end\n").getBytes(StandardCharsets.UTF_8)
    val out = new BufferedOutputStream(new FileOutputStream(f), 1 << 20)
    try {
      out.write("id,payload\n".getBytes(StandardCharsets.UTF_8))
      var n = 0L
      while (n < (65L << 20)) { out.write(row); n += row.length }
    } finally out.close()
  }, pass, tracer.nowNs)
}

object FileGen {
  val BatchSpecials = Seq("empty", "header", "newline", "noncsv")
  /** The engine does not yet discover zero-byte CSVs (`ingest_batch`
    * lands them and reports each as a failure); the streaming mix leaves
    * them out so that every file it lands can reach a terminal state. */
  val StreamSpecials = Seq("header", "newline", "noncsv")
}
