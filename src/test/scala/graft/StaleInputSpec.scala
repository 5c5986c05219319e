package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.functions._

/** An input rewritten at the same path is read afresh by the next call in
  * the same session. A frame the operators reuse is a snapshot owned by
  * the call, never a CacheManager entry: such an entry is keyed by plan,
  * and a file scan's plan compares by root path only, so it would hand the
  * second call the first call's rows. */
class StaleInputSpec extends SparkSpec {

  /** Copies a parquet table, a single file or a directory of parts. */
  private def copyTable(from: Path, to: Path): Unit =
    Files.walk(from).forEach { p =>
      val dst = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else { Files.createDirectories(dst.getParent); Files.copy(p, dst) }
    }

  private def delete(path: Path): Unit =
    Files.walk(path).sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))

  /** Stages `table` from the sf0.001 testdata under a fresh root, runs `q`
    * over it, replaces the table at the same path (outside Spark) by a
    * copy without the rows whose `idCol` is divisible by 3, and runs `q`
    * again: the rerun must equal `q` over that copy at a path of its own. */
  private def rerunReadsFreshInput(table: String, idCol: String)
                                  (q: String => Seq[String]): Unit = {
    val root = Files.createTempDirectory("graft_stale_input")
    val (live, reduced) = (root.resolve("live"), root.resolve("reduced"))
    copyTable(java.nio.file.Paths.get(sf, s"$table.parquet"), live.resolve(s"$table.parquet"))
    spark.read.parquet(s"$sf/$table.parquet").filter(col(idCol) % 3 =!= 0)
      .write.parquet(reduced.resolve(s"$table.parquet").toString)
    val first = q(live.toString)
    val fresh = q(reduced.toString)
    assert(first.nonEmpty && fresh != first, "premise: the reduced input changes the result")
    delete(live.resolve(s"$table.parquet"))
    copyTable(reduced.resolve(s"$table.parquet"), live.resolve(s"$table.parquet"))
    val again = q(live.toString)
    val readFresh = again == fresh
    assert(readFresh,
      s"rerun over the replaced input returned ${again.size} rows; the fresh input gives ${fresh.size}")
    delete(root)
  }

  test("q85 over an input replaced at the same path returns the fresh segments") {
    rerunReadsFreshInput("documents", "doc_id") { dir =>
      SparkEntry.queries("q85_packed_segments")(spark, dir).collect().map(_.toString).toSeq
    }
  }

  test("globalOrderIndex over an input replaced at the same path ranks the fresh rows") {
    rerunReadsFreshInput("documents", "doc_id") { dir =>
      val ids = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id").cast("long").as("doc_id"))
      operators.Sorts.globalOrderIndex(ids, Seq(col("doc_id")), "pos")._1
        .collect().map(_.toString).sorted.toSeq
    }
  }

  test("ivfTopK over an input replaced at the same path searches the fresh corpus") {
    rerunReadsFreshInput("embeddings", "vec_id") { dir =>
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val queries = emb.filter(col("vec_id") % 50 === 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      operators.Similarity.ivfTopK(emb, "vec_id", "embedding", queries, "qid", "qvec",
          k = 5, nlist = 16, nprobe = 16)
        .select(col("qid"), col("rank"), col("id"), round(col("cos"), 4).as("cos"))
        .collect().map(_.toString).sorted.toSeq
    }
  }
}
