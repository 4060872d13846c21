package graft.fls

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

/** O(delta) manifest commits ([[FlsManifest.commit]]): every version is
  * published from a [[FlsManifest.Delta]], and the commit plans chunk
  * reuse from the pointer lines alone: chunks whose recorded
  * [minRel, maxRel] cannot contain a removed/restated rel are carried
  * VERBATIM — never opened. Locks: an append to a many-chunk table
  * opens ZERO chunks; a removal opens exactly the one intersecting
  * chunk; the metadata-only equality-delete commit opens zero; the
  * small-chunk fold still amortizes; `Delta.between` equals the
  * hand-written delta; the chunk-granularity conflict check; pointers
  * without a min birth version are opened once a carried predicate
  * needs them, and rewritten with it;
  * and two concurrent appends both publish with one retry and no chunk
  * rewrite amplification. */
class FlsManifestDeltaSpec extends AnyFunSuite {

  private val InlineMax = 8
  private val Target = 4

  private def conf(): Configuration = {
    val c = new Configuration(false)
    c.setInt(FlsManifest.InlineThresholdKey, InlineMax)
    c.setInt(FlsManifest.ChunkTargetKey, Target)
    c
  }

  private def newDir(): Path =
    new Path(Files.createTempDirectory("fls-delta-spec").toString)

  private def entry(i: Int, stats: String = null): FlsManifest.Entry =
    FlsManifest.Entry(f"part-$i%05d.fls", 100L + i, 0L, stats)

  private def commit(fs: FileSystem, dir: Path, c: Configuration,
      op: String = "append", eqAdd: Seq[String] = Nil)(
      change: FlsManifest.Head => FlsManifest.Delta): Long =
    FlsManifest.commit(fs, dir, java.util.UUID.randomUUID().toString, c,
      op = op, eqAdd = eqAdd)(change)

  private def fullAppend(fs: FileSystem, dir: Path, c: Configuration,
      adds: Seq[FlsManifest.Entry]): Long =
    commit(fs, dir, c)(h => FlsManifest.Delta.between(h.entries, h.entries ++ adds))

  private def deltaCommit(fs: FileSystem, dir: Path, c: Configuration,
      d: FlsManifest.Delta, op: String = "append",
      eqAdd: Seq[String] = Nil): Long =
    commit(fs, dir, c, op, eqAdd)(_ => d)

  private def rels(fs: FileSystem, dir: Path): Set[String] =
    FlsManifest.read(fs, dir).getOrElse(Nil).map(_.rel).toSet

  private def pointersOfHead(fs: FileSystem, dir: Path): Seq[String] = {
    val log = FlsManifest.logDir(dir)
    val v = fs.listStatus(log).toSeq.filter(_.isFile)
      .map(_.getPath.getName).filter(_.startsWith("v")).max
    val p = new Path(log, v)
    val buf = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
    val in = fs.open(p)
    try in.readFully(0, buf) finally in.close()
    new String(buf, java.nio.charset.StandardCharsets.UTF_8)
      .split('\n').filter(_.startsWith("#chunk\t")).toSeq
      .map(_.split('\t')(1))
  }

  private def chunkReads[A](body: => A): (A, Long) = {
    val before = FlsManifest.chunkReadCount.get()
    val r = body
    (r, FlsManifest.chunkReadCount.get() - before)
  }

  test("append to a many-chunk table opens ZERO chunks and reuses " +
      "every pointer verbatim") {
    val c = conf(); val dir = newDir(); val fs = dir.getFileSystem(c)
    fullAppend(fs, dir, c, (0 until 40).map(entry(_))) // 10 full chunks
    val before = pointersOfHead(fs, dir)
    assert(before.length == 10)
    val (_, opened) = chunkReads {
      deltaCommit(fs, dir, c, FlsManifest.Delta(add = Seq(entry(1000))))
    }
    assert(opened == 0L, s"append opened $opened chunks; must open none")
    val after = pointersOfHead(fs, dir)
    // the 10 old pointers survive by name; one new chunk for the add
    assert(before.forall(after.contains))
    assert(after.length == 11)
    assert(rels(fs, dir) == ((0 until 40).map(i => f"part-$i%05d.fls").toSet
      + "part-01000.fls"))
  }

  test("append stamps birth versions on the new entries only") {
    val c = conf(); val dir = newDir(); val fs = dir.getFileSystem(c)
    fullAppend(fs, dir, c, (0 until 40).map(entry(_)))
    val v = deltaCommit(fs, dir, c, FlsManifest.Delta(add = Seq(entry(1000))))
    val es = FlsManifest.read(fs, dir).get
    assert(FlsFileStats.birthOf(
      es.find(_.rel == "part-01000.fls").get.stats) == v)
    assert(FlsFileStats.birthOf(
      es.find(_.rel == "part-00000.fls").get.stats) == 1L)
  }

  test("removal opens exactly the intersecting chunk; restate inherits " +
      "the old birth version") {
    val c = conf(); val dir = newDir(); val fs = dir.getFileSystem(c)
    fullAppend(fs, dir, c, (0 until 40).map(entry(_)))
    val (_, opened) = chunkReads {
      deltaCommit(fs, dir, c, FlsManifest.Delta(
        removeRels = Set("part-00005.fls"),
        restate = Seq(entry(6, stats = """{"x":1}"""))), op = "delete")
    }
    assert(opened == 1L,
      s"rels 5 and 6 share one chunk; opened $opened")
    val es = FlsManifest.read(fs, dir).get
    assert(!es.exists(_.rel == "part-00005.fls"))
    val re = es.find(_.rel == "part-00006.fls").get
    assert(re.stats.contains("\"x\":1"))
    assert(FlsFileStats.birthOf(re.stats) == 1L,
      "restate must keep the original birth version")
  }

  test("metadata-only equality-delete commit opens zero chunks and " +
      "carries the predicate") {
    val c = conf(); val dir = newDir(); val fs = dir.getFileSystem(c)
    fullAppend(fs, dir, c, (0 until 40).map(entry(_)))
    val json = FlsEqDeletes.EqDelete(0L, Seq(FlsEqDeletes.InLeg("k",
      FlsEqDeletes.KindLong, Array(7L), Array.empty, Array.empty))).json
    val ((v), opened) = chunkReads {
      deltaCommit(fs, dir, c, FlsManifest.Delta(), op = "eqdelete",
        eqAdd = Seq(json))
    }
    assert(opened == 0L, s"eqdelete opened $opened chunks; must open none")
    val eq = FlsManifest.versionEq(fs, dir, v)
    assert(eq.length == 1 && FlsEqDeletes.versionOf(eq.head) == v)
    assert(rels(fs, dir).size == 40)
  }

  test("a removal-only delta DROPS a provably-dead predicate from the " +
      "pointer-recorded min birth versions, opening only the chunks " +
      "holding the removed rels (r17)") {
    val c = conf(); val dir = newDir(); val fs = dir.getFileSystem(c)
    // v1: 12 old entries (bv=1, 3 chunks); v2: the predicate (pv=2);
    // v3: 12 new entries (bv=3, their chunks record minBv=3)
    fullAppend(fs, dir, c, (0 until 12).map(entry(_)))
    val json = FlsEqDeletes.EqDelete(0L, Seq(FlsEqDeletes.InLeg("k",
      FlsEqDeletes.KindLong, Array(7L), Array.empty, Array.empty))).json
    val pv = deltaCommit(fs, dir, c, FlsManifest.Delta(), op = "eqdelete",
      eqAdd = Seq(json))
    deltaCommit(fs, dir, c,
      FlsManifest.Delta(add = (100 until 112).map(entry(_))))
    assert(FlsManifest.versionEq(fs, dir, pv + 1).length == 1,
      "the predicate must carry until the proof exists")
    // v4 removes every bv=1 entry: the kept pointers all record
    // minBv=3 > pv and nothing materialized predates pv — the SAME
    // commit drops the predicate
    val removeAll = (0 until 12).map(i => f"part-$i%05d.fls").toSet
    val ((v4), opened) = chunkReads {
      deltaCommit(fs, dir, c, FlsManifest.Delta(removeRels = removeAll),
        op = "delete")
    }
    assert(FlsManifest.versionEq(fs, dir, v4).isEmpty,
      "the provably-dead predicate must drop in the removing commit")
    assert(opened <= 3, s"removal opened $opened chunks, expected the 3 " +
      "holding the removed rels")
    assert(rels(fs, dir) == (100 until 112).map(i => f"part-$i%05d.fls").toSet)
  }

  test("a removal-only delta KEEPS the predicate while any retained " +
      "entry predates it, and while any pointer lacks a recorded " +
      "min birth version") {
    val c = conf(); val dir = newDir(); val fs = dir.getFileSystem(c)
    fullAppend(fs, dir, c, (0 until 12).map(entry(_)))
    val json = FlsEqDeletes.EqDelete(0L, Seq(FlsEqDeletes.InLeg("k",
      FlsEqDeletes.KindLong, Array(7L), Array.empty, Array.empty))).json
    deltaCommit(fs, dir, c, FlsManifest.Delta(), op = "eqdelete",
      eqAdd = Seq(json))
    deltaCommit(fs, dir, c,
      FlsManifest.Delta(add = (100 until 112).map(entry(_))))
    // leave ONE bv=1 entry alive: the predicate still applies to it
    val removeMost = (1 until 12).map(i => f"part-$i%05d.fls").toSet
    val v = deltaCommit(fs, dir, c,
      FlsManifest.Delta(removeRels = removeMost), op = "delete")
    assert(FlsManifest.versionEq(fs, dir, v).length == 1,
      "a predicate with a retained old-bv entry must carry")
    // now remove the last one — proof complete, predicate drops
    val v2 = deltaCommit(fs, dir, c,
      FlsManifest.Delta(removeRels = Set("part-00000.fls")), op = "delete")
    assert(FlsManifest.versionEq(fs, dir, v2).isEmpty)
  }

  test("single-entry delta appends fold once enough small chunks pile " +
      "up — chunk count stays bounded") {
    val c = conf(); val dir = newDir(); val fs = dir.getFileSystem(c)
    fullAppend(fs, dir, c, (0 until 40).map(entry(_)))
    (0 until 30).foreach { i =>
      deltaCommit(fs, dir, c, FlsManifest.Delta(add = Seq(entry(100 + i))))
    }
    val pts = pointersOfHead(fs, dir)
    // 70 entries / target 4 = 18 right-sized chunks; the fold keeps the
    // pointer count O(entries/target + SmallChunkMergeBound)
    assert(pts.length <= 70 / Target + 10,
      s"${pts.length} chunks after 30 single appends — fold broke")
    assert(rels(fs, dir).size == 70)
  }

  test("between equals the hand-written delta, inline and chunked") {
    // the same seeded sequence under an inline conf and a chunked one:
    // each step commits the hand-written delta to one table and
    // Delta.between(before, after) to the other; entries, birth versions
    // and predicate sets must agree after every step
    Seq(1 << 20, InlineMax).foreach { inlineMax =>
      val c = conf()
      c.setInt(FlsManifest.InlineThresholdKey, inlineMax)
      val d1 = newDir(); val d2 = newDir()
      val fs = d1.getFileSystem(c)
      val rnd = new scala.util.Random(42)
      val json = FlsEqDeletes.EqDelete(0L, Seq(FlsEqDeletes.InLeg("k",
        FlsEqDeletes.KindLong, Array(7L), Array.empty, Array.empty))).json
      fullAppend(fs, d1, c, (0 until 40).map(entry(_)))
      fullAppend(fs, d2, c, (0 until 40).map(entry(_)))
      var nextId = 1000
      (0 until 15).foreach { step =>
        val cur = FlsManifest.read(fs, d1).get
        val victims = rnd.shuffle(cur.map(_.rel)).take(rnd.nextInt(3)).toSet
        val restates = rnd.shuffle(cur.filterNot(e => victims.contains(e.rel)))
          .take(rnd.nextInt(2))
          .map(e => e.copy(stats = FlsFileStats.withDv(e.stats, s"dv-$nextId")))
        val adds = (0 until rnd.nextInt(3)).map { _ =>
          nextId += 1; entry(nextId)
        }
        val eqAdd = if (step % 5 == 2) Seq(json) else Nil
        deltaCommit(fs, d1, c, FlsManifest.Delta(adds, victims, restates),
          eqAdd = eqAdd)
        commit(fs, d2, c, eqAdd = eqAdd) { h =>
          val re = restates.map(e => e.rel -> e).toMap
          FlsManifest.Delta.between(h.entries, h.entries
            .filterNot(e => victims.contains(e.rel))
            .map(e => re.getOrElse(e.rel, e)) ++ adds)
        }
        val (v1, e1) = FlsManifest.readVersioned(fs, d1).get
        val (v2, e2) = FlsManifest.readVersioned(fs, d2).get
        assert(e1 == e2, s"step $step (inline threshold $inlineMax): " +
          "the two deltas diverged")
        assert(FlsManifest.versionEq(fs, d1, v1) == FlsManifest.versionEq(fs, d2, v2))
      }
      val (v, es) = FlsManifest.readVersioned(fs, d1).get
      assert(es.map(e => FlsFileStats.birthOf(e.stats)).toSet.size > 1,
        "the sequence must leave entries of several birth versions")
      val pointers = FlsManifest.readLayoutVersioned(fs, d1,
        resolveChunks = false).get._2.pointers
      assert(pointers.isEmpty == (inlineMax > es.length),
        s"v$v: the sequence must run the layout it names")
    }
  }

  private def headPointers(fs: FileSystem, dir: Path): Seq[FlsManifest.Pointer] =
    FlsManifest.readLayoutVersioned(fs, dir, resolveChunks = false).get._2.pointers

  /** Hand-edit version `v` as a writer before the `b:` field wrote it. */
  private def stripBirthFields(fs: FileSystem, dir: Path, v: Long): Unit = {
    val vp = FlsManifest.versionPath(dir, v)
    val text = {
      val in = fs.open(vp)
      try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
    }
    val stripped = text.split('\n').map(l =>
      if (l.startsWith("#chunk\t")) l.split('\t').filterNot(_.startsWith("b:")).mkString("\t")
      else l).mkString("", "\n", "\n")
    assert(stripped != text, "spec setup: the head must carry b: fields")
    val out = fs.create(vp, true)
    try out.write(stripped.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  test("pre-r17 pointers stay unopened while no predicate is carried") {
    val c = conf(); val dir = newDir(); val fs = dir.getFileSystem(c)
    val v1 = fullAppend(fs, dir, c, (0 until 12).map(entry(_)))
    stripBirthFields(fs, dir, v1)
    val (_, opened) = chunkReads {
      deltaCommit(fs, dir, c, FlsManifest.Delta(add = Seq(entry(100))))
    }
    assert(opened == 0L, s"an append without predicates opens no chunk; opened $opened")
    val pts = headPointers(fs, dir)
    assert(pts.count(_.minBv < 0L) == 3 && pts.exists(_.minBv == 2L),
      s"old pointers carry verbatim, the new chunk records b: $pts")
    assert(rels(fs, dir).size == 13)
  }

  test("pre-r17 pointers are opened once so a dead predicate drops") {
    val c = conf(); val dir = newDir(); val fs = dir.getFileSystem(c)
    // v1: 12 old entries; v2: the predicate (pv=2); v3: 12 new entries
    fullAppend(fs, dir, c, (0 until 12).map(entry(_)))
    val json = FlsEqDeletes.EqDelete(0L, Seq(FlsEqDeletes.InLeg("k",
      FlsEqDeletes.KindLong, Array(7L), Array.empty, Array.empty))).json
    deltaCommit(fs, dir, c, FlsManifest.Delta(), op = "eqdelete",
      eqAdd = Seq(json))
    val v3 = deltaCommit(fs, dir, c,
      FlsManifest.Delta(add = (100 until 112).map(entry(_))))
    stripBirthFields(fs, dir, v3)
    def pointers = headPointers(fs, dir)
    assert(pointers.length == 6 && pointers.forall(_.minBv < 0L))
    // removing every entry that predates the predicate proves it dead:
    // the commit must open the unproven pointers rather than carry it
    val (v4, opened) = chunkReads {
      deltaCommit(fs, dir, c, FlsManifest.Delta(
        removeRels = (0 until 12).map(i => f"part-$i%05d.fls").toSet), op = "delete")
    }
    assert(FlsManifest.versionEq(fs, dir, v4).isEmpty,
      "a predicate no retained entry predates must drop")
    assert(opened == 6L, s"each of the 6 pointers opens once; opened $opened")
    assert(pointers.nonEmpty && pointers.forall(_.minBv == 3L),
      s"every pointer must carry b: again: $pointers")
    assert(rels(fs, dir) == (100 until 112).map(i => f"part-$i%05d.fls").toSet)
  }

  test("removing a rel a concurrent commit already removed aborts " +
      "loudly (chunk-granularity conflict check)") {
    val c = conf(); val dir = newDir(); val fs = dir.getFileSystem(c)
    fullAppend(fs, dir, c, (0 until 40).map(entry(_)))
    deltaCommit(fs, dir, c, FlsManifest.Delta(removeRels = Set("part-00003.fls")))
    intercept[java.util.ConcurrentModificationException] {
      deltaCommit(fs, dir, c, FlsManifest.Delta(removeRels = Set("part-00003.fls")))
    }
  }

  test("two concurrent appends to disjoint rels both publish with one " +
      "retry and no chunk rewrite amplification") {
    val c = conf(); val dir = newDir(); val fs = dir.getFileSystem(c)
    fullAppend(fs, dir, c, (0 until 40).map(entry(_)))
    val chunksBefore = pointersOfHead(fs, dir).toSet
    // A stages its version file, then — before A's publish CAS — B
    // commits a full append; A loses, retries against B's head, wins.
    var fired = false
    FlsManifest.beforePublishForTest = () => if (!fired) {
      fired = true
      deltaCommit(fs, dir, c, FlsManifest.Delta(add = Seq(entry(2000))))
    }
    try {
      val (_, opened) = chunkReads {
        deltaCommit(fs, dir, c, FlsManifest.Delta(add = Seq(entry(3000))))
      }
      // B's inner commit runs inside the measured window too; neither
      // commit may open ANY chunk (append-only deltas)
      assert(opened == 0L, s"race opened $opened chunks")
    } finally FlsManifest.beforePublishForTest = () => ()
    assert(FlsManifest.lastCommitAttempts.get() == 2,
      "the loser must win on its second attempt")
    val after = pointersOfHead(fs, dir).toSet
    assert(chunksBefore.subsetOf(after),
      "the base pointers must survive both commits untouched")
    val r = rels(fs, dir)
    assert(r.contains("part-02000.fls") && r.contains("part-03000.fls"))
    assert(r.size == 42)
  }

  test("inline table delta-appends and stays inline") {
    val c = conf(); val dir = newDir(); val fs = dir.getFileSystem(c)
    fullAppend(fs, dir, c, (0 until 4).map(entry(_)))
    deltaCommit(fs, dir, c, FlsManifest.Delta(add = Seq(entry(100))))
    assert(pointersOfHead(fs, dir).isEmpty, "must stay inline")
    assert(rels(fs, dir).size == 5)
  }
}
