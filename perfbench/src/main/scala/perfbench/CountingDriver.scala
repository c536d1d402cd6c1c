package perfbench

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
import java.sql.{Connection, DriverManager, PreparedStatement}
import java.util.Properties
import java.util.concurrent.atomic.AtomicLong

/** Counts the JDBC connections Spark's writer opens and the batches it
  * flushes. Named through the writer's `driver` option together with the
  * [[CountingDriver.Marker]] property, it strips the marker and delegates
  * the connection to the driver that owns the URL (embedded Derby here).
  * Without the marker it declines, so other DriverManager lookups are
  * neither counted nor affected. Local-mode executors share the JVM, so
  * the static counters see every partition's writer. */
class CountingDriver extends java.sql.Driver {
  override def acceptsURL(url: String): Boolean = false

  override def connect(url: String, info: Properties): Connection = {
    if (info == null || info.getProperty(CountingDriver.Marker) == null) return null
    CountingDriver.connections.incrementAndGet()
    val plain = new Properties
    info.stringPropertyNames.forEach { k =>
      if (k != CountingDriver.Marker) plain.setProperty(k, info.getProperty(k))
    }
    val real = DriverManager.getConnection(url, plain)
    proxy[Connection](real, (m, out) =>
      if (m.getName == "prepareStatement")
        proxy[PreparedStatement](out, (sm, sout) => {
          if (sm.getName == "executeBatch") CountingDriver.batches.incrementAndGet()
          sout
        })
      else out)
  }

  private def proxy[T](target: AnyRef, tap: (Method, AnyRef) => AnyRef)
                      (implicit ct: scala.reflect.ClassTag[T]): T =
    Proxy.newProxyInstance(ct.runtimeClass.getClassLoader, Array(ct.runtimeClass),
      new InvocationHandler {
        def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef = {
          val out = try m.invoke(target, (if (args == null) Array.empty[AnyRef] else args): _*)
          catch { case e: InvocationTargetException => throw e.getCause }
          tap(m, out)
        }
      }).asInstanceOf[T]

  override def getPropertyInfo(url: String, info: Properties) =
    Array.empty[java.sql.DriverPropertyInfo]
  override def getMajorVersion = 1
  override def getMinorVersion = 0
  override def jdbcCompliant() = false
  override def getParentLogger = throw new java.sql.SQLFeatureNotSupportedException()
}

object CountingDriver {
  val Marker = "perfbench.count"
  val connections = new AtomicLong
  val batches = new AtomicLong
}
