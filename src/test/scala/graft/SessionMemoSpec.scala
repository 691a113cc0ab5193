package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** [[SessionMemo]]: one build per (session, dir), rebuilt when its input
  * files change, and session memos never answer from data that was
  * rewritten under the same directory inside one session.
  */
class SessionMemoSpec extends AnyFunSuite {
  import TestSpark.{spark, sfDir}

  private def copyFixture(from: String): Path = {
    val dir = Files.createTempDirectory("graft_memo_")
    Files.list(Paths.get(from)).forEach { f =>
      Files.copy(f, dir.resolve(f.getFileName))
      dir.resolve(f.getFileName).toFile.setWritable(true)
    }
    dir
  }

  private def rows(s: SparkSession, q: String, dir: String): Seq[String] =
    SparkEntry.queries(q)(s, dir).collect().map(_.toString).toSeq.sorted

  test("one build per key, rebuilt when an input file changes") {
    val dir = copyFixture(sfDir)
    val builds = new AtomicInteger()
    val memo = SessionMemo("count nation", Seq("nation")) { (s, d) =>
      builds.incrementAndGet()
      graft.io.Tables.nation(s, d).count()
    }
    val d = dir.toString
    val n0 = memo(spark, d)
    assert(memo(spark, d) === n0 && builds.get === 1)
    // a new session is a new key
    memo(spark.newSession(), d)
    assert(builds.get === 2)
    // replace nation with region: different length, same dir
    Files.copy(dir.resolve("region.parquet"), dir.resolve("nation.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val n1 = memo(spark, d)
    assert(builds.get === 3 && n1 != n0)
    assert(memo(spark, d) === n1 && builds.get === 3)
  }

  test("concurrent readers of one key share one build; memos nest") {
    val builds = new AtomicInteger()
    val base = SessionMemo("slow base", Seq("region")) { (_, _) =>
      builds.incrementAndGet()
      Thread.sleep(300)
      7L
    }
    val top = SessionMemo("on base", Nil, builtOn = Seq(base)) { (s, d) =>
      base(s, d) + 1L
    }
    assert(top.inputs === Seq("region") && top.upstream === Seq(base))
    val reads = Future.sequence((1 to 4).map(_ => Future(top(spark, sfDir))))
    assert(Await.result(reads, 1.minute).forall(_ === 8L))
    assert(builds.get === 1)
  }

  test("queries over data rewritten inside one session match a fresh session") {
    val dir = copyFixture(sfDir)
    val d = dir.toString
    val qs = Seq("q_triangles", "text_bm25_topk", "dedup_minhash")
    val before = qs.map(q => q -> rows(spark, q, d)).toMap
    val big = Paths.get(sfDir).resolveSibling("sf0.01").toString
    for (t <- Seq("lineitem", "documents"))
      Files.copy(Paths.get(graft.io.Tables.path(big, t)),
        Paths.get(graft.io.Tables.path(d, t)), StandardCopyOption.REPLACE_EXISTING)
    val fresh = spark.newSession()
    for (q <- qs) {
      val want = rows(fresh, q, d)
      assert(want != before(q), s"$q: the rewrite must change its result")
      assert(rows(spark, q, d) === want, s"$q answered from the old data")
    }
  }
}
