package graft

import graft.index.AtomicSwap
import org.apache.hadoop.fs.{FileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

/** Property: the shared publish/heal discipline never loses data under a
  * crash at ANY step boundary. The publish sequence is replayed manually up
  * to a random crash point (the exact renames/deletes publishDir performs,
  * in its order), heal runs as the next process would, and the visible
  * state must be EXACTLY the pre-publish or the post-publish world — never
  * a mix, never a loss. This is the one shared utility guarding the kupo
  * manifest commit, the ANN index compaction, and the curation sink folds,
  * so it gets the adversarial treatment (the subsystems' own crash tests
  * each cover only their two or three hand-picked windows). */
class AtomicSwapPropertySpec extends AnyFunSuite {

  private def freshFs(): (FileSystem, Path) = {
    val root = new Path(
      java.nio.file.Files.createTempDirectory("atomic-swap-prop").toString)
    (root.getFileSystem(new org.apache.hadoop.conf.Configuration()), root)
  }

  private def writeFile(fs: FileSystem, p: Path, content: String): Unit = {
    val out = fs.create(p, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }

  private def readTree(fs: FileSystem, dir: Path): Map[String, String] =
    if (!fs.exists(dir)) Map.empty
    else fs.listStatus(dir).flatMap { st =>
      if (st.isDirectory) readTree(fs, st.getPath).map {
        case (k, v) => s"${st.getPath.getName}/$k" -> v
      }
      else {
        val in = fs.open(st.getPath)
        val bytes = try in.readAllBytes() finally in.close()
        Seq(st.getPath.getName -> new String(bytes, "UTF-8"))
      }
    }.toMap

  /** Visible state = everything under root EXCEPT in-flight work/trash
    * dirs (dot-prefixed, invisible to parquet listings by convention). */
  private def visible(fs: FileSystem, root: Path): Map[String, String] =
    readTree(fs, root).filterNot { case (k, _) => k.startsWith(".") }

  test("publish/heal: a crash at any step boundary yields pre- or post-state, never loss") {
    val rnd = new scala.util.Random(20260815L)
    (0 until 60).foreach { trial =>
      val (fs, root) = freshFs()
      // pre-state: nSources live source dirs plus untouched bystanders
      val nSources = 1 + rnd.nextInt(3)
      val sources = (0 until nSources).map { i =>
        val d = new Path(root, s"run-$i")
        fs.mkdirs(d)
        writeFile(fs, new Path(d, "data.txt"), s"source-$i")
        d
      }
      val bystander = new Path(root, "keep")
      fs.mkdirs(bystander)
      writeFile(fs, new Path(bystander, "data.txt"), "bystander")
      val pre = visible(fs, root)

      // fully-written work dir (publishDir's contract: staging is done)
      val work = new Path(root, ".swap-work")
      fs.mkdirs(work)
      writeFile(fs, new Path(work, "data.txt"), "folded")
      val target = new Path(root, "run-published")
      val trash = new Path(root, ".swap-work.trash")
      val post = pre -- pre.keysIterator.filter(_.startsWith("run-")) +
        ("run-published/data.txt" -> "folded")

      // replay publishDir's exact step sequence up to a random crash point:
      // steps: mkdir trash (0), rename each source aside (1..n),
      // publish rename (n+1), trash delete (n+2); crash BEFORE step `crash`
      val steps = nSources + 3
      val crash = rnd.nextInt(steps + 1) // == steps means no crash
      var step = 0
      def run(f: => Unit): Unit = { if (step < crash) f; step += 1 }
      run(fs.mkdirs(trash))
      sources.foreach(p => run(assert(fs.rename(p, new Path(trash, p.getName)))))
      run(assert(fs.rename(work, target)))
      run(fs.delete(trash, true))

      // next process: heal, then observe
      AtomicSwap.heal(fs, work, trash, root, "prop")
      val got = visible(fs, root)
      val committed = crash > nSources + 1 // the publish rename happened
      val want = if (committed) post else pre
      assert(got == want,
        s"trial $trial crash@$crash/$steps committed=$committed:\n got=$got\n want=$want")
      // heal is idempotent and leaves no in-flight dirs behind
      AtomicSwap.heal(fs, work, trash, root, "prop")
      assert(!fs.exists(work) && !fs.exists(trash))
      assert(visible(fs, root) == want)

      // and a fresh attempt AFTER healing an uncommitted crash completes:
      // re-stage the work dir and publish the surviving sources for real
      if (!committed) {
        val work2 = new Path(root, ".swap-work")
        fs.mkdirs(work2)
        writeFile(fs, new Path(work2, "data.txt"), "folded")
        AtomicSwap.publishDir(fs, work2, target, trash, sources, "prop")
        assert(visible(fs, root) == post)
      }
      fs.delete(root, true)
    }
  }

  test("manifest publish: a reader racing ~200 commits never fails and never goes back") {
    import graft.index.GraftIndex.{Manifest, Segment}
    val (fs, root) = freshFs()
    val conf = new org.apache.hadoop.conf.Configuration()
    // the local FS is checksummed: this is the scheme whose publish was a
    // two-step rename (file, then its .crc)
    assert(fs.isInstanceOf[org.apache.hadoop.fs.ChecksumFileSystem])
    val dir = root.toString
    // manifests of growing size, so consecutive versions differ in length
    def manifest(v: Long) = Manifest(v, Map("inputs" ->
      (0L to v % 7).map(i => Segment(f"inputs/seg-$v%06d-$i", Some(i), Some(v))).toList))
    Manifest.write(dir, manifest(1), conf)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    var reads = 0L
    val reader = new Thread(() => {
      var last = 0L
      while (!done.get) {
        try {
          val v = Manifest.read(dir, conf).map(_.version).getOrElse(-1L)
          if (v < last) errors.add(new AssertionError(s"version went back: $last -> $v"))
          last = v
          reads += 1
        } catch { case e: Throwable => errors.add(e) }
      }
    })
    reader.start()
    try (2L to 200L).foreach(v => Manifest.write(dir, manifest(v), conf))
    finally { done.set(true); reader.join() }
    assert(errors.size == 0,
      s"${errors.size} of $reads reads failed; first: ${Option(errors.peek).map(_.toString)}")
    assert(reads > 0)
    assert(Manifest.read(dir, conf).map(_.version).contains(200L))
    fs.delete(root, true)
  }
}
