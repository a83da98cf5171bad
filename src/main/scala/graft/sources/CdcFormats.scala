package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType, StructType}

import graft.operators.RowKindOps

/** CDC envelope parsers and writers: debezium-json, ogg-json, canal-json,
  * maxwell-json.
  *
  * References:
  *  - seatunnel-formats/seatunnel-format-compatible-debezium-json
  *  - seatunnel-formats/seatunnel-format-json (canal / maxwell / ogg)
  *
  * Each parser turns a column of raw envelope JSON into typed change rows
  * tagged with `__row_kind` (+I/-U/+U/-D, the RowKindOps convention): one
  * `from_json` pass per envelope, then a row explosion for the
  * before/after images of updates. Everything is columnar/codegen — no
  * per-row JSON library dispatch like the row-at-a-time reference path.
  */
object CdcFormats {

  /** Debezium: {before, after, op: c|r|u|d, source:{db,table}, ts_ms}.
    * op c/r -> +I(after); u -> -U(before) and +U(after); d -> -D(before).
    */
  def parseDebezium(df: DataFrame, jsonCol: String, dataSchema: StructType): DataFrame =
    parseBeforeAfter(df, jsonCol, dataSchema, "op", Seq("c", "r"), "u", "d")

  /** Oracle GoldenGate (ogg-json): {before, after, op_type: I|U|D, table,
    * op_ts}. I -> +I(after); U -> -U(before) and +U(after); D -> -D(before).
    */
  def parseOgg(df: DataFrame, jsonCol: String, dataSchema: StructType): DataFrame =
    parseBeforeAfter(df, jsonCol, dataSchema, "op_type", Seq("I"), "U", "D")

  /** Before/after-image envelopes (debezium, ogg): {before, after, <opField>}.
    * `inserts` -> +I(after); `update` -> -U(before) and +U(after); `delete`
    * -> -D(before). Null images are dropped.
    */
  private def parseBeforeAfter(df: DataFrame, jsonCol: String, dataSchema: StructType,
      opField: String, inserts: Seq[String], update: String, delete: String): DataFrame = {
    val envSchema = new StructType()
      .add("before", dataSchema).add("after", dataSchema)
      .add(opField, StringType)
    val op = col(s"__env.$opField")
    val parsed = df.withColumn("__env", from_json(col(jsonCol), envSchema))
    val images = parsed.select(col("__env"),
      explode(filter(array(
        struct(col("__env.before").as("row"),
          when(op === update, "-U").when(op === delete, "-D").as("kind")),
        struct(col("__env.after").as("row"),
          when(op.isin(inserts: _*), "+I").when(op === update, "+U").as("kind"))
      ), x => x.getField("kind").isNotNull && x.getField("row").isNotNull)).as("img"))
    images.select(col("img.row.*"), col("img.kind").as(RowKindOps.RowKindCol))
  }

  /** Canal: {data:[...], old:[...], type: INSERT|UPDATE|DELETE, ...}.
    * INSERT -> +I(data[i]); DELETE -> -D(data[i]);
    * UPDATE -> -U(data[i] patched with old[i]) and +U(data[i]).
    */
  def parseCanal(df: DataFrame, jsonCol: String, dataSchema: StructType): DataFrame =
    parseDataOld(df, jsonCol, dataSchema, "INSERT", "UPDATE", "DELETE", arrays = true)

  /** Maxwell: {data, old, type: insert|update|delete, ...}. Single-row
    * envelopes; update pre-image = data patched with old's changed fields.
    */
  def parseMaxwell(df: DataFrame, jsonCol: String, dataSchema: StructType): DataFrame =
    parseDataOld(df, jsonCol, dataSchema, "insert", "update", "delete", arrays = false)
  /** Data-plus-old-patch envelopes (canal, maxwell): {data, old, type}, kinds
    * as in [[parseCanal]]. With `arrays` (canal) data/old are parallel arrays;
    * otherwise (maxwell) an envelope carries one row, dropped when null.
    */
  private def parseDataOld(df: DataFrame, jsonCol: String, dataSchema: StructType,
      insert: String, update: String, delete: String, arrays: Boolean): DataFrame = {
    val rowType = if (arrays) ArrayType(dataSchema) else dataSchema
    val envSchema = new StructType()
      .add("data", rowType).add("old", rowType).add("type", StringType)
    val env = df.withColumn("__env", from_json(col(jsonCol), envSchema))
    val parsed =
      if (arrays) env.select(col("__env.type").as("__t"),
        posexplode(col("__env.data")).as(Seq("__i", "__row")), col("__env.old").as("__old"))
      else env.select(col("__env.type").as("__t"), col("__env.data").as("__row"),
        col("__env.old").as("__old"))
    // `old` holds only changed fields of the pre-image; a full
    // pre-image reconstruction needs per-field coalesce(old.f, row.f).
    val old = if (arrays) col("__old").getItem(col("__i")) else col("__old")
    val beforeRow = struct(dataSchema.fieldNames.map(f =>
      coalesce(old.getField(f), col(s"__row.$f")).as(f)): _*)
    val keep: Column => Column =
      if (arrays) _.getField("kind").isNotNull
      else x => x.getField("kind").isNotNull && x.getField("row").isNotNull
    val t = col("__t")
    val images = parsed.select(explode(filter(array(
      struct(when(t === update, beforeRow).otherwise(col("__row")).as("row"),
        when(t === update, "-U").when(t === delete, "-D").as("kind")),
      struct(col("__row").as("row"),
        when(t === insert, "+I").when(t === update, "+U").as("kind"))
    ), keep)).as("img"))
    images.select(col("img.row.*"), col("img.kind").as(RowKindOps.RowKindCol))
  }

  /** Kafka Connect JSON envelope ({"schema": ..., "payload": row-or-rows})
    * — reference seatunnel-format-compatible-connect-json/.../
    * CompatibleKafkaConnectDeserializationSchema.java:117. The payload may
    * be a single object or an array; both become +I rows. A Debezium
    * payload nested in a Connect envelope should be unwrapped with this
    * and then fed to [[parseDebezium]].
    */
  def parseConnectJson(df: DataFrame, jsonCol: String, dataSchema: StructType): DataFrame = {
    val envSchema = new StructType()
      .add("payload", ArrayType(dataSchema))
    val envSchemaSingle = new StructType().add("payload", dataSchema)
    // try array form first; fall back to single-object payload per row
    val parsed = df.select(
      from_json(col(jsonCol), envSchema).getField("payload").as("__rows"),
      from_json(col(jsonCol), envSchemaSingle).getField("payload").as("__row"))
    parsed
      .select(explode(when(col("__rows").isNotNull, col("__rows"))
        .otherwise(array(col("__row")))).as("__r"))
      .where(col("__r").isNotNull)
      .select(col("__r.*"))
      .withColumn(RowKindOps.RowKindCol, lit("+I"))
  }

  // ---------- serialization (write side) ----------
  //
  // The reference formats are bidirectional; kind mapping follows the
  // serializers (seatunnel-format-json/.../canal/CanalJsonSerializationSchema
  // .java:63, debezium/DebeziumJsonSerializationSchema.java:47,
  // maxwell/MaxWellJsonSerializationSchema.java:52): INSERT/UPDATE_AFTER
  // emit the insert op with the row image, UPDATE_BEFORE/DELETE emit the
  // delete op. All are single to_json projections — codegen'd, narrow.

  private def dataStruct(df: DataFrame, dataCols: Seq[String]): Column = {
    val cols = if (dataCols.nonEmpty) dataCols
               else df.columns.filterNot(_ == RowKindOps.RowKindCol).toSeq
    struct(cols.map(col): _*)
  }

  /** +I/+U serialize as the envelope's insert op, -U/-D as its delete op. */
  private def isInsert: Column = col(RowKindOps.RowKindCol).isin("+I", "+U")

  /** Debezium envelope: +I/+U -> {"after": row, "op": "c"};
    * -U/-D -> {"before": row, "op": "d"}.
    */
  def toDebeziumJson(df: DataFrame, dataCols: Seq[String] = Nil,
      outputCol: String = "json"): DataFrame =
    beforeAfterJson(df, dataCols, outputCol, "op", "c", "d")

  /** GoldenGate ogg-json envelope, symmetric with [[parseOgg]]:
    * +I/+U -> {"after": row, "op_type": "I"}; -U/-D -> {"before": row,
    * "op_type": "D"}. Kind mapping follows the reference serializer
    * (seatunnel-format-json/.../ogg/OggJsonSerializationSchema.java:61 —
    * INSERT/UPDATE_AFTER emit the insert op, UPDATE_BEFORE/DELETE the
    * delete op); the envelope field names follow the GoldenGate wire shape
    * the parse side accepts, so toOggJson -> parseOgg round-trips.
    */
  def toOggJson(df: DataFrame, dataCols: Seq[String] = Nil,
      outputCol: String = "json"): DataFrame =
    beforeAfterJson(df, dataCols, outputCol, "op_type", "I", "D")


  /** +I/+U -> {"after": row, <opField>: insert}; -U/-D -> {"before": row, <opField>: delete}. */
  private def beforeAfterJson(df: DataFrame, dataCols: Seq[String], outputCol: String,
      opField: String, insert: String, delete: String): DataFrame = {
    val data = dataStruct(df, dataCols)
    val ins = isInsert
    df.select(to_json(struct(
      when(!ins, data).as("before"),
      when(ins, data).as("after"),
      when(ins, insert).otherwise(delete).as(opField))).as(outputCol))
  }

  /** {"data": row, or [row] with `arrays`; "type": insert for +I/+U, delete for -U/-D}. */
  private def dataJson(df: DataFrame, dataCols: Seq[String], outputCol: String,
      insert: String, delete: String, arrays: Boolean): DataFrame = {
    val data = dataStruct(df, dataCols)
    df.select(to_json(struct(
      (if (arrays) array(data) else data).as("data"),
      when(isInsert, insert).otherwise(delete).as("type"))).as(outputCol))
  }

  /** Canal envelope: +I/+U -> {"data":[row],"type":"INSERT"};
    * -U/-D -> {"data":[row],"type":"DELETE"}.
    */
  def toCanalJson(df: DataFrame, dataCols: Seq[String] = Nil,
      outputCol: String = "json"): DataFrame =
    dataJson(df, dataCols, outputCol, "INSERT", "DELETE", arrays = true)

  /** Maxwell envelope: +I/+U -> {"data": row, "type": "insert"};
    * -U/-D -> {"data": row, "type": "delete"} (lowercase op strings, the
    * format Maxwell itself emits and `parseMaxwell` accepts).
    */
  def toMaxwellJson(df: DataFrame, dataCols: Seq[String] = Nil,
      outputCol: String = "json"): DataFrame =
    dataJson(df, dataCols, outputCol, "insert", "delete", arrays = false)
}
