package perfbench

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

import graft.fls.{FlsFile, FlsFileReader, FlsFileWriter, FlsManifest}
import graft.fls.Format.Enc

/** Direct measurements of the `graft.fls` codec and file layer over a
  * table's own files, through the public reader and writer. */
object Codec {
  /** The encodings a footer can name (`Format.Enc`), as metric suffixes. */
  val Named: Seq[(String, Int)] = Seq("PLAIN" -> Enc.PLAIN, "CONSTANT" -> Enc.CONSTANT,
    "FFOR" -> Enc.FFOR, "DICT" -> Enc.DICT, "RLE" -> Enc.RLE, "ALP" -> Enc.ALP,
    "ALP_RD" -> Enc.ALP_RD, "FSST" -> Enc.FSST, "FSST_DICT" -> Enc.FSST_DICT,
    "FREQ" -> Enc.FREQ, "FSST12" -> Enc.FSST12, "FSST12_DICT" -> Enc.FSST12_DICT,
    "EQUAL" -> Enc.EQUAL)
  private val nameOf = Named.map(_.swap).toMap

  final class Acc { var values = 0L; var bytes = 0L; var decodeNs = 0L; var encodeNs = 0L }

  final case class Result(byEnc: Map[String, Acc], readNsPerByte: Double) {
    def decodeNsPerValue(e: String): Double = byEnc.get(e).map(a => a.decodeNs.toDouble / a.values).getOrElse(0.0)
    def encodeNsPerValue(e: String): Double = byEnc.get(e).map(a => a.encodeNs.toDouble / a.values).getOrElse(0.0)
  }

  /** Exact bytes and values per encoding over every segment of every
    * data file of the table: the `codec.bits_per_value` counts. */
  def footprint(table: String): Map[String, Acc] = {
    val conf = new Configuration()
    val acc = mutable.LinkedHashMap[String, Acc]()
    for (f <- files(table, conf)) {
      val r = new FlsFileReader(f, conf)
      try for (rg <- r.table.rowGroups; seg <- rg.segments) {
        val a = acc.getOrElseUpdate(nameOf.getOrElse(seg.encoding, s"ENC${seg.encoding}"), new Acc)
        a.values += rg.nTuples; a.bytes += seg.length
      } finally r.close()
    }
    acc.toMap
  }

  def rowGroups(table: String): Long = {
    val conf = new Configuration()
    files(table, conf).map { f =>
      val r = new FlsFileReader(f, conf)
      try r.table.rowGroups.length.toLong finally r.close()
    }.sum
  }

  /** Times, per segment of the first `maxGroups` row groups (the best of
    * `reps` rounds each): the read (`readSegmentBytes`), the decode
    * (`decodeSegment` minus its read), and the encode (a one-column
    * `FlsFileWriter.writeRowGroup` of the decoded values). */
  def probe(table: String, scratch: String, maxGroups: Int, reps: Int,
      tracer: Option[Tracer]): Result = {
    val conf = new Configuration()
    val acc = mutable.LinkedHashMap[String, Acc]()
    var readNs, readBytes = 0L
    var groups = 0
    val tmp = new Path(scratch, "codec-probe.fls")
    val t0 = System.currentTimeMillis()
    for (f <- files(table, conf) if groups < maxGroups) {
      val r = new FlsFileReader(f, conf)
      try for (rg <- r.table.rowGroups.indices if groups < maxGroups) {
        groups += 1
        val desc = r.table.rowGroups(rg)
        for (c <- desc.segments.indices if desc.segments(c).encoding != Enc.EQUAL) {
          val seg = desc.segments(c)
          var bestRead, bestDecode, bestEncode = Long.MaxValue
          for (_ <- 0 until reps) {
            val a = System.nanoTime(); r.readSegmentBytes(seg)
            val b = System.nanoTime(); val data = r.decodeSegment(rg, c)
            val d = System.nanoTime()
            val w = new FlsFileWriter(tmp, conf, Array(r.table.columns(c)))
            val e = System.nanoTime(); w.writeRowGroup(Array(data))
            val g = System.nanoTime(); w.abort()
            bestRead = math.min(bestRead, b - a)
            bestDecode = math.min(bestDecode, math.max(0L, (d - b) - (b - a)))
            bestEncode = math.min(bestEncode, g - e)
          }
          val x = acc.getOrElseUpdate(nameOf.getOrElse(seg.encoding, s"ENC${seg.encoding}"), new Acc)
          x.values += desc.nTuples; x.bytes += seg.length
          x.decodeNs += bestDecode; x.encodeNs += bestEncode
          readNs += bestRead; readBytes += seg.length
        }
      } finally r.close()
    }
    tracer.foreach(_.span("codec", "decode+encode probe", t0, System.currentTimeMillis()))
    Result(acc.toMap, if (readBytes == 0) 0.0 else readNs.toDouble / readBytes)
  }

  def files(table: String, conf: Configuration): Seq[Path] = {
    val dir = new Path(table)
    val fs = dir.getFileSystem(conf)
    FlsManifest.read(fs, dir) match {
      case Some(es) => es.map(e => new Path(dir, e.rel)).sortBy(_.toString)
      case None => FlsFile.listDataFiles(dir, conf).sortBy(_.toString)
    }
  }
}

/** What a commit changed, from the table directory and its manifest
  * before and after an operation. */
object Commits {
  final case class State(files: Map[String, Long], live: Set[String], versions: Int)

  def state(table: String): State = {
    val conf = new Configuration()
    val dir = new Path(table)
    val fs = dir.getFileSystem(conf)
    val all = mutable.Map[String, Long]()
    val it = fs.listFiles(dir, true)
    while (it.hasNext) { val s = it.next(); all(s.getPath.toString) = s.getLen }
    val live = FlsManifest.read(fs, dir).map(_.map(_.rel).toSet).getOrElse(Set.empty)
    State(all.toMap, live, FlsManifest.versionsWithTimes(fs, dir).size)
  }

  final class Acc {
    var ops = 0; var added = 0L; var removed = 0L; var versions = 0L
    var bytesAdded = 0L; var bytesChanged = 0.0
  }

  def diff(before: State, after: State, rowsChanged: Long, bytesPerRow: Double, acc: Acc): Unit = {
    acc.ops += 1
    acc.added += (after.live -- before.live).size
    acc.removed += (before.live -- after.live).size
    acc.versions += math.max(0, after.versions - before.versions)
    acc.bytesAdded += after.files.collect { case (p, n) if !before.files.contains(p) => n }.sum
    acc.bytesChanged += rowsChanged * bytesPerRow
  }
}
