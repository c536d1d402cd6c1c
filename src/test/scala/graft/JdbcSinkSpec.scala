package graft

import java.nio.file.Files
import java.util.Properties

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.IO

/** A6/A7 — the JDBC sink exercised END-TO-END against an embedded Apache
  * Derby database (ships with Spark's jars; no network, no server
  * process). The reference's entire Load phase is `to_sql` into Postgres
  * (challenge2.py:285-301): full-replace for the movies table and a
  * chunked append loop for the 26M-row ratings table. Derby speaks the
  * same JDBC surface Spark's writer uses in production — only the URL
  * differs — so this round-trips the real code path: dialect DDL, batched
  * INSERTs, SaveMode semantics, partitioned writes.
  */
class JdbcSinkSpec extends AnyFunSuite with SparkSpec {

  private lazy val url: String = {
    // Derby writes its engine log under derby.system.home — keep it in tmp.
    val home = Files.createTempDirectory("graft-derby-home")
    System.setProperty("derby.system.home", home.toString)
    val db = Files.createTempDirectory("graft-derby").resolve("db")
    s"jdbc:derby:$db;create=true"
  }
  private def props = new Properties

  private def sample = {
    import spark.implicits._
    (1L to 100L).map(i => (i, s"name_$i", i * 1.5))
      .toDF("id", "name", "score")
  }

  test("A6 writeJdbcReplace round-trips rows and overwrites on rewrite") {
    IO.writeJdbcReplace(sample, url, "t_replace", props)
    val back = spark.read.jdbc(url, "t_replace", props)
    assert(back.count() === 100)
    val got = back.select("id", "name", "score").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).sortBy(_._1)
    val want = (1L to 100L).map(i => (i, s"name_$i", i * 1.5))
    assert(got.toSeq === want)
    // replace again: full-overwrite semantics, not append
    IO.writeJdbcReplace(sample, url, "t_replace", props)
    assert(spark.read.jdbc(url, "t_replace", props).count() === 100)
  }

  private def counted1000 = {
    import spark.implicits._
    (1L to 1000L).map(i => (i, s"n_$i", i * 0.25)).toDF("id", "name", "score")
  }

  /** Creates `table` empty through the PLAIN url, so Derby's dialect owns
    * the DDL types (the counting prefix would fall back to the generic
    * dialect's TEXT; appends issue no DDL, only batched INSERTs). Returns
    * the counting url and props, and the fixed driver-side connection
    * overhead of an append (tableExists probe etc.), calibrated with a
    * small SINGLE-partition append to a scratch table: total minus the one
    * partition writer. (An empty append won't do — AQE plans zero write
    * tasks for it.) Counters are reset on return. */
  private def countingTarget(rows: DataFrame, table: String): (String, Properties, Int) = {
    IO.writeJdbcReplace(rows.limit(0), url, table, props)
    val curl = CountingJdbc.Prefix + url
    val cprops = props
    cprops.setProperty("driver", classOf[CountingDerbyDriver].getName)
    IO.writeJdbcReplace(rows.limit(0), url, "t_cal", props)
    CountingJdbc.reset()
    IO.writeJdbcAppend(rows.limit(10), curl, "t_cal", numPartitions = 1,
      batchSize = 100, props = cprops)
    val overhead = CountingJdbc.connects.get() - 1
    CountingJdbc.reset()
    (curl, cprops, overhead)
  }

  test("A7 chunked append opens one connection per partition and " +
      "flushes ceil(rows/part/batchSize) batches per partition") {
    // 1000 rows over 4 partitions at batchSize 100 → 250 rows/partition
    // → 3 executeBatch flushes each (100+100+50): multiple batches per
    // partition, the chunk-loop shape challenge2.py:295-298 runs.
    val rows = counted1000
    val (curl, cprops, overhead) = countingTarget(rows, "t_counted")
    IO.writeJdbcAppend(rows, curl, "t_counted", numPartitions = 4,
      batchSize = 100, props = cprops)
    // exactly one executor connection per partition beyond the fixed
    // driver-side overhead
    assert(CountingJdbc.connects.get() === 4 + overhead,
      s"connects=${CountingJdbc.connects.get()} overhead=$overhead")
    assert(CountingJdbc.batches.get() === 12,
      s"expected 4 partitions x 3 flushes, got ${CountingJdbc.batches.get()}")
    assert(spark.read.jdbc(url, "t_counted", props).count() === 1000)
  }

  test("A7 numPartitions caps the writers and never fans a small input out") {
    val rows = counted1000
    val (curl, cprops, overhead) = countingTarget(rows, "t_capped")
    // one input partition under the default cap of 8: one writer, 10 flushes
    IO.writeJdbcAppend(rows.coalesce(1), curl, "t_capped", batchSize = 100, props = cprops)
    assert(CountingJdbc.connects.get() === 1 + overhead,
      s"connects=${CountingJdbc.connects.get()} overhead=$overhead")
    assert(CountingJdbc.batches.get() === 10)
    assert(spark.read.jdbc(url, "t_capped", props).count() === 1000)
    // six input partitions under a cap of 2: two writers, every row loaded
    val six = rows.repartition(6)
    assert(six.rdd.getNumPartitions === 6)
    CountingJdbc.reset()
    IO.writeJdbcAppend(six, curl, "t_capped", numPartitions = 2, batchSize = 100, props = cprops)
    assert(CountingJdbc.connects.get() === 2 + overhead,
      s"connects=${CountingJdbc.connects.get()} overhead=$overhead")
    val back = spark.read.jdbc(url, "t_capped", props)
    assert(back.count() === 2000)
    assert(back.groupBy("id").count().filter(col("count") =!= 2).count() === 0)
  }

  test("A7 writeJdbcAppend accumulates partitioned batched chunks") {
    IO.writeJdbcReplace(sample.limit(0), url, "t_append", props)
    IO.writeJdbcAppend(sample, url, "t_append", numPartitions = 4,
      batchSize = 16, props = props)
    IO.writeJdbcAppend(sample, url, "t_append", numPartitions = 4,
      batchSize = 16, props = props)
    val back = spark.read.jdbc(url, "t_append", props)
    assert(back.count() === 200)
    // every id appears exactly twice and values survive the round-trip
    val byId = back.groupBy("id").agg(count(lit(1)).alias("n"),
      countDistinct("name", "score").alias("d"))
    assert(byId.filter(col("n") =!= 2 || col("d") =!= 1).count() === 0)
  }
}

/** Shared counters for [[CountingDerbyDriver]]. local-mode executors share
  * the JVM, so static atomics see every partition's writer. */
object CountingJdbc {
  val Prefix = "jdbc:counting:"
  val connects = new java.util.concurrent.atomic.AtomicInteger
  val batches = new java.util.concurrent.atomic.AtomicInteger
  def reset(): Unit = { connects.set(0); batches.set(0) }
}

/** Connection-counting JDBC stub: accepts `jdbc:counting:<real-url>`,
  * delegates to whatever driver claims the real URL (Derby here), and
  * counts `connect()` calls and `executeBatch()` flushes via dynamic
  * proxies — the observable form of Spark's numPartitions × batchsize
  * contract (one writer connection per partition, one batch flush per
  * `batchsize` rows). Only the interfaces Spark's writer touches are
  * proxied (Connection → PreparedStatement). */
class CountingDerbyDriver extends java.sql.Driver {
  import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
  import java.sql.{Connection, DriverManager, PreparedStatement}

  override def acceptsURL(url: String): Boolean =
    url != null && url.startsWith(CountingJdbc.Prefix)

  override def connect(url: String, info: Properties): Connection = {
    if (!acceptsURL(url)) return null
    CountingJdbc.connects.incrementAndGet()
    val real = DriverManager.getConnection(
      url.substring(CountingJdbc.Prefix.length), info)
    proxy[Connection](real, (m, args, out) => m.getName match {
      case "prepareStatement" =>
        proxy[PreparedStatement](out.asInstanceOf[PreparedStatement],
          (sm, _, sout) => {
            if (sm.getName == "executeBatch") CountingJdbc.batches.incrementAndGet()
            sout
          })
      case _ => out
    })
  }

  /** Delegating proxy: invoke on `target`, then let `tap` observe/replace
    * the result. Unwraps ITE so SQLExceptions surface as themselves. */
  private def proxy[T](target: AnyRef,
                       tap: (Method, Array[AnyRef], AnyRef) => AnyRef)
                      (implicit ct: scala.reflect.ClassTag[T]): T = {
    val iface = ct.runtimeClass
    Proxy.newProxyInstance(iface.getClassLoader, Array(iface),
      new InvocationHandler {
        def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef = {
          val out = try m.invoke(target,
            (if (args == null) Array.empty[AnyRef] else args): _*)
          catch { case e: InvocationTargetException => throw e.getCause }
          tap(m, args, out)
        }
      }).asInstanceOf[T]
  }

  override def getPropertyInfo(url: String, info: Properties) =
    Array.empty[java.sql.DriverPropertyInfo]
  override def getMajorVersion = 1
  override def getMinorVersion = 0
  override def jdbcCompliant() = false
  override def getParentLogger =
    throw new java.sql.SQLFeatureNotSupportedException()
}
