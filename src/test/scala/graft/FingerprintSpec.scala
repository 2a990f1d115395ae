package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.sources.Fingerprint

import scala.concurrent.duration._
import scala.concurrent.{Await, ExecutionContext, Future}

/** The derived-artifact cache: `Fingerprint.buildOnce` keys an artifact on
  * every input of its build, and publishes it by one atomic rename. */
class FingerprintSpec extends GraftSuite {

  private val published = scala.collection.mutable.Set.empty[String]

  override def afterAll(): Unit =
    try published.foreach(p => org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
    finally super.afterAll()

  /** A fresh source dir holding one data file. */
  private def source(): String = {
    val src = tempDir("src")
    Files.writeString(Paths.get(src, "part-0"), "v1")
    src
  }

  private def cached(src: String, params: Any*)(builds: AtomicInteger): String = {
    val out = Fingerprint.buildOnce("fpspec", src, params: _*) { out =>
      builds.incrementAndGet()
      Files.createDirectories(Paths.get(out))
      Files.writeString(Paths.get(out, "data"), "built")
    }
    published += out
    out
  }

  /** Staging dirs of `out` still in its parent. */
  private def stagingOf(out: String): Seq[String] = {
    val p = Paths.get(out)
    Option(p.getParent.toFile.list).toSeq.flatten
      .filter(_.startsWith(s"${p.getFileName}.staging-"))
  }

  test("a cache hit does not rebuild, and a changed source file rebuilds") {
    val src = source()
    val builds = new AtomicInteger()
    val a = cached(src)(builds)
    assert(cached(src)(builds) === a)
    assert(builds.get === 1)
    assert(Files.readString(Paths.get(a, "data")) === "built")
    Files.writeString(Paths.get(src, "part-0"), "v2 is longer")
    val b = cached(src)(builds)
    assert(b !== a)
    assert(builds.get === 2)
  }

  test("a changed params value rebuilds") {
    val src = source()
    val builds = new AtomicInteger()
    val a = cached(src, 16, Seq("d1", "d2"))(builds)
    assert(cached(src, 16, Seq("d1", "d2"))(builds) === a)
    val b = cached(src, 32, Seq("d1", "d2"))(builds)
    val c = cached(src, 16, Seq("d1"))(builds)
    assert(Set(a, b, c).size === 3)
    assert(builds.get === 3)
  }

  test("a build that throws publishes nothing, leaves no staging dir, and the next call builds") {
    val src = source()
    var staging = ""
    val err = intercept[IllegalStateException] {
      Fingerprint.buildOnce("fpspec", src) { out =>
        staging = out
        Files.createDirectories(Paths.get(out))
        Files.writeString(Paths.get(out, "half"), "half an artifact")
        throw new IllegalStateException("killed midway")
      }
    }
    assert(err.getMessage === "killed midway")
    val out = staging.substring(0, staging.lastIndexOf(".staging-"))
    assert(!Files.exists(Paths.get(staging)))
    assert(!Files.exists(Paths.get(out)))
    assert(stagingOf(out).isEmpty)
    val builds = new AtomicInteger()
    assert(cached(src)(builds) === out)
    assert(builds.get === 1)
    assert(!Files.exists(Paths.get(out, "half")))
  }

  test("two concurrent builders of one key return one published dir") {
    val src = source()
    val builds = new AtomicInteger()
    // both builders must be inside `build` before either may publish
    val barrier = new CyclicBarrier(2)
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val runs = Seq.fill(2)(Future {
        Fingerprint.buildOnce("fpspec", src) { out =>
          builds.incrementAndGet()
          Files.createDirectories(Paths.get(out))
          Files.writeString(Paths.get(out, "data"), Thread.currentThread.getName)
          barrier.await(30, TimeUnit.SECONDS)
        }
      })
      val outs = Await.result(Future.sequence(runs), 60.seconds)
      published ++= outs
      assert(builds.get === 2)
      assert(outs.distinct.size === 1)
      val out = Paths.get(outs.head)
      val siblings = out.getParent.toFile.list.filter(_.startsWith(out.getFileName.toString))
      assert(siblings.toSeq === Seq(out.getFileName.toString))
      assert(Files.readString(out.resolve("data")).nonEmpty)
    } finally pool.shutdown()
  }

  test("dir and dir/ resolve to one artifact") {
    val src = source()
    val builds = new AtomicInteger()
    val a = cached(src)(builds)
    assert(cached(src + "/")(builds) === a)
    assert(cached(s"$src/../${Paths.get(src).getFileName}")(builds) === a)
    assert(builds.get === 1)
  }
}
