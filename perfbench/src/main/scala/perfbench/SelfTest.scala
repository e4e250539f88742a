package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Shows that the benchmark's checks can fail: a planted wrong row and a
  * dropped tombstone must each fail the model check, the planted row must
  * fail the read check, and one seed must give byte-identical generator
  * output (another seed, different output). */
object SelfTest {
  def run(spark: SparkSession, a: Main.Args): Boolean = {
    val root = s"${a.work}/selftest"
    def say(what: String, ok: Boolean): Boolean = {
      println(s"selftest ${if (ok) "ok  " else "FAIL"} $what"); ok
    }
    def filesOf(seed: Long, tag: String): Seq[Array[Byte]] = {
      val g = new Gen(seed, { val d = s"$root/gen-$tag"; Files.createDirectories(Paths.get(d)); d })
      g.snapshot(2000, 2)
      (1 to 3).foreach(i => g.emit(3000, i * 1000.0, 1.0))
      g.files.map(f => Files.readAllBytes(Paths.get(s"$root/gen-$tag/${f.name}"))).toSeq
    }
    val (x, y, z) = (filesOf(a.seed, "a"), filesOf(a.seed, "b"), filesOf(a.seed + 1, "c"))
    val same = say("same seed, byte-identical generator output",
      x.size == y.size && x.zip(y).forall { case (p, q) => java.util.Arrays.equals(p, q) })
    val differ = say("other seed, different generator output",
      !x.zip(z).forall { case (p, q) => java.util.Arrays.equals(p, q) })

    def table(tag: String): (CdcTable, Gen, Reads) = {
      val t = new CdcTable(spark, s"$root/t-$tag")
      val g = new Gen(a.seed, t.topic)
      g.snapshot(20000, 2)
      t.apply()
      (1 to 3).foreach(_ => g.emit(4000, 0, 0))
      t.apply(maxFiles = Some(1))
      val cat = s"st_$tag"
      spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.connector.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", t.warehouse)
      Reads.writeCustomers(spark, a.seed, s"${t.root}/customer")
      (t, g, new Reads(spark, t.dir, s"$cat.orders", s"${t.root}/customer"))
    }
    def modelAgrees(t: CdcTable, g: Gen, tag: String): Boolean =
      Reads.fingerprint(spark.read.format("graft").load(t.dir)) ==
        Reads.fingerprint(Reads.writeModel(spark, g.modelRows, s"${t.root}/model-$tag"))

    // planted wrong row
    val (t1, g1, r1) = table("planted")
    val clean = say("untouched table equals the model", modelAgrees(t1, g1, "clean"))
    val cleanReads = say("untouched table passes every read check",
      (for (c <- Reads.Classes; f <- Reads.Faces) yield {
        val p = if (c == "point") g1.liveKeys.next().toLong else 1L
        r1.rows(c, f, p) == r1.expected(c, p, spark.read.parquet(s"${t1.root}/model-clean"))
      }).forall(ok => ok))
    val planted = g1.plantWrongRow()
    val modelCatches = say(s"model check fails on a planted wrong row (key $planted)",
      !modelAgrees(t1, g1, "planted"))
    val model = spark.read.parquet(s"${t1.root}/model-planted")
    val readCatches = say("read checks fail on the planted row (point, agg; both faces)",
      Reads.Faces.forall(f => r1.rows("point", f, planted) != r1.expected("point", planted, model) &&
        r1.rows("agg", f, 0) != r1.expected("agg", 0, model)))

    // dropped tombstone: the model applies it, the engine never sees it
    val (t2, g2, _) = table("tomb")
    val f = g2.emit(4000, 0, 0)
    val path = Paths.get(t2.topic, f.name)
    val lines = Files.readAllLines(path, UTF_8).asScala
    val victim = lines.indexWhere(_.contains("\"value\":null"))
    Files.write(path, lines.patch(victim, Nil, 1).mkString("", "\n", "\n").getBytes(UTF_8))
    t2.apply()
    val tombCatches = say("model check fails on a dropped tombstone",
      victim >= 0 && !modelAgrees(t2, g2, "tomb"))
    Seq(same, differ, clean, cleanReads, modelCatches, readCatches, tombCatches).forall(ok => ok)
  }
}
