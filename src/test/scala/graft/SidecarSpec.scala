package graft

import org.scalatest.funsuite.AnyFunSuite

/** Sidecar keys must be stable for an unchanged fixture and move when
  * the fixture's data files change — the ADVICE r12 staleness fix:
  * a fixture regenerated in place must NOT serve stale persisted
  * sketch/weight/band state through a path-hash-only store key.
  *
  * The store lifecycle ([[Sidecar.built]] / [[Sidecar.drop]]) is
  * checked on local files only: killed and failed builds are never
  * read, leftovers never leak into a build, a tag bump never touches
  * the old store, and concurrent or nested ensures neither double-build
  * nor deadlock. */
class SidecarSpec extends AnyFunSuite {

  private def fixture(): java.io.File = {
    val dir = java.nio.file.Files.createTempDirectory("sidecar_fix").toFile
    val sub = new java.io.File(dir, "t.parquet"); sub.mkdirs()
    val f = new java.io.File(sub, "part-0.parquet")
    java.nio.file.Files.write(f.toPath, Array[Byte](1, 2, 3))
    // marker files must NOT affect the key (rewrites touch _SUCCESS
    // mtimes even when data is byte-identical... but data rewrites
    // always move data-file mtime too, which is the signal)
    java.nio.file.Files.write(new java.io.File(sub, "_SUCCESS").toPath, Array[Byte]())
    dir
  }

  test("key is deterministic for an unchanged fixture") {
    val d = fixture()
    assert(Sidecar.key(d.toString) == Sidecar.key(d.toString))
  }

  test("key moves when a data file is rewritten (mtime/length), added, or removed") {
    val d = fixture()
    val k0 = Sidecar.key(d.toString)
    val f = new java.io.File(new java.io.File(d, "t.parquet"), "part-0.parquet")
    // rewrite with different length
    java.nio.file.Files.write(f.toPath, Array[Byte](1, 2, 3, 4))
    val k1 = Sidecar.key(d.toString)
    assert(k1 != k0, "regenerated data file did not change the key")
    // same length, bumped mtime
    f.setLastModified(f.lastModified() + 12345L)
    val k2 = Sidecar.key(d.toString)
    assert(k2 != k1, "mtime bump did not change the key")
    // added file
    val g = new java.io.File(new java.io.File(d, "t.parquet"), "part-1.parquet")
    java.nio.file.Files.write(g.toPath, Array[Byte](9))
    assert(Sidecar.key(d.toString) != k2, "added file did not change the key")
  }

  test("distinct fixture paths with identical contents get distinct keys") {
    val a = fixture(); val b = fixture()
    // path hash is folded in: two fixtures never share a store
    assert(Sidecar.key(a.toString) != Sidecar.key(b.toString))
  }

  /** A fresh store dir under a spec-unique tag, dropped afterwards. */
  private def withStore(name: String)(body: String => Unit): Unit = {
    val dir = Sidecar.dir(s"spec_${name}_${System.nanoTime}_v1", fixture().toString)
    try body(dir) finally Sidecar.drop(dir)
  }

  private def write(dir: String, name: String): Unit =
    java.nio.file.Files.write(new java.io.File(dir, name).toPath, Array[Byte](1))

  test("a build that throws leaves no accepted store; the next ensure rebuilds") {
    withStore("throw") { dir =>
      val err = intercept[IllegalStateException] {
        Sidecar.built(dir) { p => write(p, "half"); throw new IllegalStateException("killed") }
      }
      assert(err.getMessage == "killed")
      assert(!new java.io.File(dir, Sidecar.Done).exists())
      var runs = 0
      Sidecar.built(dir) { p => runs += 1; write(p, "whole") }
      assert(runs == 1, "a failed build was accepted as done")
      assert(!new java.io.File(dir, "half").exists(), "the failed build's debris survived")
      Sidecar.built(dir)(_ => runs += 1)
      assert(runs == 1, "a done store was rebuilt")
    }
  }

  test("leftovers in an unmarked store dir are gone before the build runs") {
    withStore("leftover") { dir =>
      new java.io.File(dir, "sub").mkdirs()
      write(dir, "stray")
      write(new java.io.File(dir, "sub").toString, "_SUCCESS")
      var seen: Seq[String] = null
      Sidecar.built(dir)(p => seen = new java.io.File(p).list().toSeq)
      assert(seen == Seq.empty)
    }
  }

  test("a tag bump builds a new directory and leaves the old store alone") {
    val d = fixture().toString
    val tag = s"spec_bump_${System.nanoTime}"
    val v1 = Sidecar.dir(s"${tag}_v1", d)
    val v2 = Sidecar.dir(s"${tag}_v2", d)
    try {
      Sidecar.built(v1)(p => write(p, "old"))
      var runs = 0
      Sidecar.built(v2) { p => runs += 1; write(p, "new") }
      assert(runs == 1 && v2 != v1)
      assert(new java.io.File(v1, "old").exists() && new java.io.File(v1, Sidecar.Done).exists())
      assert(!new java.io.File(v2, "old").exists())
    } finally { Sidecar.drop(v1); Sidecar.drop(v2) }
  }

  test("an ensure nested inside another store's build does not deadlock") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    withStore("outer") { outer =>
      withStore("inner") { inner =>
        val done = Future {
          Sidecar.built(outer) { p =>
            val in = Sidecar.built(inner)(q => write(q, "in"))
            write(p, new java.io.File(in).getName)
          }
        }
        Await.result(done, scala.concurrent.duration.Duration(60, "s"))
        assert(new java.io.File(inner, Sidecar.Done).exists())
        assert(new java.io.File(outer, Sidecar.Done).exists())
      }
    }
  }

  test("4 threads ensuring one store run its build exactly once") {
    withStore("race") { dir =>
      val runs = new java.util.concurrent.atomic.AtomicInteger()
      val start = new java.util.concurrent.CountDownLatch(1)
      val got = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val threads = (1 to 4).map { _ =>
        val t = new Thread(() => {
          start.await()
          got.add(Sidecar.built(dir) { p =>
            runs.incrementAndGet(); Thread.sleep(50); write(p, "x")
          })
          ()
        })
        t.start(); t
      }
      start.countDown()
      threads.foreach(_.join(60000))
      assert(runs.get == 1)
      assert(got.size == 4 && got.toArray.forall(_ == dir))
    }
  }

  test("drop followed by built builds again") {
    withStore("drop") { dir =>
      var runs = 0
      Sidecar.built(dir) { p => runs += 1; write(p, "x") }
      Sidecar.drop(dir)
      assert(!new java.io.File(dir).exists())
      Sidecar.built(dir) { p => runs += 1; write(p, "x") }
      assert(runs == 2 && new java.io.File(dir, "x").exists())
    }
  }

  test("store code under queries/ and ServingBench goes through Sidecar") {
    val files = Option(new java.io.File("src/main/scala/graft/queries").listFiles)
      .getOrElse(Array.empty[java.io.File]).filter(_.getName.endsWith(".scala")).toSeq :+
      new java.io.File("src/main/scala/graft/streaming/ServingBench.scala")
    assert(files.size > 10 && files.forall(_.isFile), files)
    val banned = Seq("java.io.tmpdir", "\"_SUCCESS\"", "\"_GRAFT_DONE\"")
    val localDelete = """def\s+(rm|wipe)\b""".r
    val hits = for {
      f <- files
      (line, n) <- java.nio.file.Files.readAllLines(f.toPath).toArray(Array.empty[String])
        .zipWithIndex
      if banned.exists(line.contains) || localDelete.findFirstIn(line).isDefined
    } yield s"${f.getName}:${n + 1}: ${line.trim}"
    assert(hits.isEmpty, "hand-rolled store lifecycle:\n" + hits.mkString("\n"))
  }
}
