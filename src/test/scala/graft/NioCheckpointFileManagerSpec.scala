package graft

import java.nio.file.{Files, Paths}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.NioCheckpointFileManager

/** The NIO checkpoint-file manager must honor the exact contracts the
  * streaming machinery builds on: atomic publish-by-rename, the
  * FileAlreadyExistsException signal HDFSMetadataLog uses to detect a
  * concurrent writer, cancellation without debris, positioned reads for
  * the state store, and recursive delete. A wrong answer here corrupts
  * offset/commit logs — which is why the class gets its own spec on top
  * of the 12 streaming gates that drive it end-to-end. */
class NioCheckpointFileManagerSpec extends AnyFunSuite {

  private def freshDir(): java.nio.file.Path =
    Files.createTempDirectory("nio_cfm_spec")

  private def mgr(root: java.nio.file.Path) =
    new NioCheckpointFileManager(new Path(root.toUri), new Configuration())

  test("createAtomic publishes on close and leaves no temp files") {
    val d = freshDir(); val m = mgr(d)
    val f = new Path(d.resolve("offsets/0").toUri)
    val out = m.createAtomic(f, overwriteIfPossible = false)
    out.write("v1\nbatch0".getBytes("UTF-8"))
    out.close()
    assert(m.exists(f))
    val in = m.open(f)
    val buf = new Array[Byte](9)
    in.readFully(0L, buf)
    assert(new String(buf, "UTF-8") == "v1\nbatch0")
    in.close()
    // no temp debris next to the published file
    val names = Files.list(d.resolve("offsets")).toArray.map(_.toString)
    assert(names.length == 1, names.mkString(","))
  }

  test("no-overwrite close against an existing file throws Hadoop FAEE and keeps the original") {
    val d = freshDir(); val m = mgr(d)
    val f = new Path(d.resolve("commits/7").toUri)
    val first = m.createAtomic(f, overwriteIfPossible = false)
    first.write("winner".getBytes); first.close()
    val second = m.createAtomic(f, overwriteIfPossible = false)
    second.write("loser".getBytes)
    intercept[FileAlreadyExistsException] { second.close() }
    val in = m.open(f); val buf = new Array[Byte](6); in.readFully(0L, buf); in.close()
    assert(new String(buf) == "winner")
    assert(Files.list(d.resolve("commits")).count() == 1)
  }

  test("two concurrent no-overwrite writers to one path: one winner, one FAEE") {
    // Both writers close at once, many times over: a check-then-rename
    // publish lets both pass the check and the later rename silently
    // replace the earlier file.
    val d = freshDir(); val m = mgr(d)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try (0 until 200).foreach { i =>
      val f = new Path(d.resolve(s"commits/$i").toUri)
      val outs = Seq("a", "b").map { w =>
        val o = m.createAtomic(f, overwriteIfPossible = false); o.write(w.getBytes); w -> o
      }
      val start = new java.util.concurrent.CountDownLatch(1)
      val results = outs.map { case (w, o) =>
        pool.submit[Either[Throwable, String]](() => {
          start.await()
          try { o.close(); Right(w) } catch { case e: Throwable => Left(e) }
        })
      }
      start.countDown()
      val rs = results.map(_.get())
      val winners = rs.collect { case Right(w) => w }
      assert(winners.length == 1, s"round $i: $rs")
      assert(rs.collect { case Left(e) => e }.forall(_.isInstanceOf[FileAlreadyExistsException]), s"round $i: $rs")
      val in = m.open(f); val buf = new Array[Byte](1); in.readFully(0L, buf); in.close()
      assert(new String(buf) == winners.head, s"round $i")
    } finally pool.shutdown()
    val names = Files.list(d.resolve("commits")).toArray.map(_.toString)
    assert(names.length == 200, "temp debris: " + names.filter(_.endsWith(".tmp")).mkString(","))
  }

  test("overwriteIfPossible replaces the existing file atomically") {
    val d = freshDir(); val m = mgr(d)
    val f = new Path(d.resolve("state/1.delta").toUri)
    val a = m.createAtomic(f, overwriteIfPossible = true); a.write("old".getBytes); a.close()
    val b = m.createAtomic(f, overwriteIfPossible = true); b.write("new".getBytes); b.close()
    val in = m.open(f); val buf = new Array[Byte](3); in.readFully(0L, buf); in.close()
    assert(new String(buf) == "new")
  }

  test("cancel discards the write entirely") {
    val d = freshDir(); val m = mgr(d)
    val f = new Path(d.resolve("sources/0/3").toUri)
    val out = m.createAtomic(f, overwriteIfPossible = false)
    out.write("abandoned".getBytes)
    out.cancel()
    assert(!m.exists(f))
    assert(Files.list(d.resolve("sources/0")).count() == 0)
  }

  test("open supports seek and sequential + positioned reads (state store access pattern)") {
    val d = freshDir(); val m = mgr(d)
    val f = new Path(d.resolve("blob").toUri)
    val out = m.createAtomic(f, overwriteIfPossible = false)
    out.write("0123456789".getBytes); out.close()
    val in = m.open(f)
    in.seek(4)
    assert(in.read() == '4'.toInt)
    assert(in.getPos == 5)
    val buf = new Array[Byte](3)
    in.readFully(7L, buf)
    assert(new String(buf) == "789")
    // positioned read must not move the sequential cursor
    assert(in.getPos == 5)
    in.close()
  }

  test("list returns name/mtime-bearing statuses and honors the filter") {
    val d = freshDir(); val m = mgr(d)
    Seq("0", "1", "2.tmp").foreach { n =>
      val o = m.createAtomic(new Path(d.resolve(s"log/$n").toUri), false)
      o.write(n.getBytes); o.close()
    }
    val all = m.list(new Path(d.resolve("log").toUri))
    assert(all.length == 3)
    assert(all.forall(_.getModificationTime > 0))
    val digits = m.list(new Path(d.resolve("log").toUri),
      p => p.getName.matches("\\d+"))
    assert(digits.map(_.getPath.getName).sorted.toSeq == Seq("0", "1"))
  }

  test("delete is recursive and silent on missing paths") {
    val d = freshDir(); val m = mgr(d)
    val o = m.createAtomic(new Path(d.resolve("v3/bucket=1/part-0").toUri), false)
    o.write("x".getBytes); o.close()
    m.delete(new Path(d.resolve("v3").toUri))
    assert(!Files.exists(d.resolve("v3")))
    m.delete(new Path(d.resolve("never_existed").toUri)) // no throw
  }

  test("the session conf resolves this class through Spark's factory") {
    val d = freshDir()
    val conf = new Configuration()
    conf.set("spark.sql.streaming.checkpointFileManagerClass",
      "graft.streaming.NioCheckpointFileManager")
    val m = org.apache.spark.sql.execution.streaming.checkpointing
      .CheckpointFileManager.create(new Path(d.toUri), conf)
    assert(m.isInstanceOf[NioCheckpointFileManager])
    assert(m.isLocal)
    assert(m.createCheckpointDirectory().toUri.getPath
      .stripSuffix("/") == d.toString)
  }
}
