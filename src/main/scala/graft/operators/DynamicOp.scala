package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.types.StructType

/** User-code transform.
  *
  * Reference: seatunnel-transforms-v2
  * .../dynamiccompile/DynamicCompileTransform.java:38 — hot-compiles
  * user-supplied Java/Groovy source and invokes it per row via reflection.
  *
  * Graft's equivalent is a typed function the JVM JIT-compiles like any
  * other code: `Dataset.map` with case-class encoders (preferred — Tungsten
  * encodes/decodes once per row, no reflection), or a Row-level variant for
  * dynamic schemas. Where the user logic is expressible as Columns, prefer
  * `DataFrame.withColumns` so it stays in codegen.
  */
object DynamicOp {

  /** Typed row-function transform: the idiomatic DynamicCompile analog. */
  def applyTyped[T: Encoder, U: Encoder](ds: Dataset[T], fn: T => U): Dataset[U] =
    ds.map(fn)

  /** Dynamic-schema variant: Row => Row with an explicit output schema. */
  def applyRows(df: DataFrame, outSchema: StructType, fn: Row => Row): DataFrame = {
    implicit val enc: Encoder[Row] = RowEncoder.encoderFor(outSchema)
    df.map(fn)
  }

  /** True hot-compile analog of the reference's DynamicCompileTransform:
    * `source` is Scala source for a `Row => Row` function, compiled ON THE
    * EXECUTOR the first time each JVM sees it (per-JVM cache) — the same
    * ship-source/compile-per-node model the reference uses for its
    * Java/Groovy snippets, so nothing needs to be on the driver classpath.
    */
  def applyCompiled(df: DataFrame, outSchema: StructType, source: String): DataFrame = {
    implicit val enc: Encoder[Row] = RowEncoder.encoderFor(outSchema)
    df.mapPartitions { rows =>
      val fn = CompiledFunctions.rowFunction(source)
      rows.map(fn)
    }
  }

  /** JAVA-language DynamicCompile: the reference's e2e contract
    * (dynamiccompile/DynamicCompileTransform.java, compile_language=JAVA)
    * — user source declares `getInlineOutputColumns(CatalogTable)` and
    * `getInlineOutputFieldValues(SeaTunnelRowAccessor)` against the public
    * SeaTunnel API (Graft ships shim classes under org.apache.seatunnel).
    * Compiled with javax.tools on each executor JVM (per-JVM cache, same
    * ship-source model as [[applyCompiled]]); output columns append to the
    * row, replacing same-named inputs.
    */
  def applyCompiledJava(df: DataFrame, source: String): DataFrame = {
    import org.apache.spark.sql.types.{DataType, StructField}
    import org.apache.seatunnel.api.table.catalog.{Column => StColumn}
    // driver side: the declared output columns fix the plan schema
    val cls = JavaCompiled.classFor(source)
    val inst = cls.getDeclaredConstructor().newInstance()
    val colsMethod = cls.getMethods.find(_.getName == "getInlineOutputColumns")
      .getOrElse(throw new IllegalArgumentException(
        "JAVA DynamicCompile source must declare getInlineOutputColumns"))
    val outCols = colsMethod.invoke(inst, null.asInstanceOf[AnyRef])
      .asInstanceOf[Array[StColumn]]
    val newFields = outCols.map(c => StructField(c.getName,
      DataType.fromDDL(c.getDataType.typeName), c.isNullable))
    // case-INSENSITIVE replacement match: Spark resolution is
    // case-insensitive by default, so a case-variant output name would
    // otherwise produce ambiguous duplicate columns
    val keep = df.schema.fields.filterNot(f =>
      newFields.exists(_.name.equalsIgnoreCase(f.name)))
    val keepIdx = keep.map(f => df.schema.fieldIndex(f.name)).toSeq
    val outSchema = StructType(keep ++ newFields)
    implicit val enc: Encoder[Row] = RowEncoder.encoderFor(outSchema)
    df.mapPartitions { rows =>
      val c = JavaCompiled.classFor(source) // per-executor compile cache
      val i = c.getDeclaredConstructor().newInstance()
      val valuesMethod = c.getMethods.find(_.getName == "getInlineOutputFieldValues").get
      rows.map { row =>
        val arr = Array.tabulate[AnyRef](row.length)(k => row.get(k).asInstanceOf[AnyRef])
        // the common subclass is assignable to either accessor import the
        // user snippet may declare (api.table.type or transform.common)
        val acc = new org.apache.seatunnel.transform.common.SeaTunnelRowAccessor(arr)
        val extra = valuesMethod.invoke(i, acc).asInstanceOf[Array[AnyRef]]
        Row.fromSeq(keepIdx.map(row.get) ++ extra.toSeq)
      }
    }
  }
}

/** Executor-side javax.tools compilation cache for JAVA DynamicCompile.
  * User source (imports + method declarations, the reference's snippet
  * shape) is wrapped in a generated class named by source hash, compiled
  * against the current classpath, and loaded in a child classloader.
  */
object JavaCompiled {
  // bounded: long-lived executors running many DISTINCT dynamic sources
  // would otherwise accumulate loaded classes + scratch dirs without limit
  private val MaxCached = 256
  private val cache =
    new java.util.LinkedHashMap[String, Class[_]](64, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String, Class[_]]): Boolean =
        size() > MaxCached
    }

  def classFor(source: String): Class[_] = cache.synchronized {
    val hit = cache.get(source)
    if (hit != null) hit
    else { val c = compile(source); cache.put(source, c); c }
  }

  /** Delete a scratch dir tree on JVM exit (deleteOnExit is per-file and
    * LIFO, so register children after the dir).
    */
  private def deleteOnExit(dir: java.nio.file.Path): Unit = {
    dir.toFile.deleteOnExit()
    java.nio.file.Files.walk(dir).forEach(p => p.toFile.deleteOnExit())
  }

  private def hash(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    d.map("%02x".format(_)).mkString
  }

  private def compile(source: String): Class[_] = {
    import java.nio.file.Files
    val clsName = "GraftDynamicJava_" + hash(source)
    // hoist import lines; everything else (including comments) is legal
    // inside the class body
    val lines = source.linesIterator.toSeq
    val (importLines, bodyLines) = lines.partition(_.trim.startsWith("import "))
    val unit = (importLines :+ s"public class $clsName {") ++ bodyLines :+ "}"
    val dir = Files.createTempDirectory("graft-javac")
    val file = dir.resolve(clsName + ".java")
    Files.write(file, unit.mkString("\n").getBytes("UTF-8"))
    val compiler = javax.tools.ToolProvider.getSystemJavaCompiler
    require(compiler != null, "JAVA DynamicCompile requires a JDK (javax.tools compiler)")
    val err = new java.io.ByteArrayOutputStream
    val rc = compiler.run(null, null, err,
      "-classpath", classpath, "-d", dir.toString, file.toString)
    require(rc == 0, s"JAVA DynamicCompile: javac failed:\n${new String(err.toByteArray, "UTF-8")}")
    deleteOnExit(dir) // scratch .java/.class files go with the JVM
    val loader = new java.net.URLClassLoader(Array(dir.toUri.toURL), getClass.getClassLoader)
    loader.loadClass(clsName)
  }

  /** The shim classes' own location plus the JVM classpath — executors
    * resolve the org.apache.seatunnel compatibility surface from wherever
    * the graft jar/classes live.
    */
  private def classpath: String = {
    val self = classOf[org.apache.seatunnel.api.table.catalog.Column]
      .getProtectionDomain.getCodeSource
    val selfPath = Option(self).map(cs => new java.io.File(cs.getLocation.toURI).getPath)
    (selfPath.toSeq :+ sys.props("java.class.path"))
      .mkString(java.io.File.pathSeparator)
  }
}

/** Executor-side compilation cache for [[DynamicOp.applyCompiled]]. */
object CompiledFunctions {
  private val cache = new java.util.concurrent.ConcurrentHashMap[String, Row => Row]()

  def rowFunction(source: String): Row => Row =
    cache.computeIfAbsent(source, { src =>
      import scala.reflect.runtime.universe
      import scala.tools.reflect.ToolBox
      val tb = universe.runtimeMirror(getClass.getClassLoader).mkToolBox()
      tb.eval(tb.parse(src)).asInstanceOf[Row => Row]
    })
}
