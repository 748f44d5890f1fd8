// Unified JVM DataSource V2 shim for the native-array tier.
//
// The Python DataSource API has no SupportsPushDownAggregates hook, so a
// plain `SELECT COUNT(*)` over format("tiledb_native") full-scans.  This
// Java provider closes the group_by_handler behaviors (TileDB-MariaDB
// mytile/ha_mytile.cc:607-715) unreachable from plain SQL, and (round 8)
// serves the SCAN path too so the two formats stop being a user-visible
// seam:
//
// - ungrouped COUNT(*) / MIN / MAX / SUM / AVG answered ENTIRELY from
//   fragment metadata (count_native_array / attr_stats_native_array /
//   windowed_agg_native — same trust rules, never a guessed value);
// - GROUP BY dim0 or FLOOR(dim0 / width) rollups from
//   bucketed_agg_native (footer walk + edge-tile decode, the q340
//   metadata rollup behind plain SQL);
// - aggregates COMPOSE with pushed filters, mirroring the reference's
//   range-stealing (the group_by_handler consumes the already-pushed
//   ranges + conditions, ha_mytile.cc:634-640): pushed dim-range
//   conjuncts window the metadata aggregate, anything else falls back;
// - filter pushdown (=, <, <=, >, >=, IN, IS [NOT] NULL, != — applied
//   EXACTLY by the Python decoder, so accepted filters carry no Spark
//   residual) and column pruning on the row scan, with the split plan
//   intersected with pushed dim ranges + the condition-NED (zero
//   partitions when provably empty);
// - small reads without a Spark job: a split plan the bridge marks
//   `local` (at most one split of at most one task's cells) and every
//   pushed aggregate are DSv2 LocalScans, read in the driver, and
//   LocalProjectStrategy keeps a projection or residual filter over
//   them there too.
//
// All delegation goes to resident bridge processes
// (tiledb_mariadb_spark.tools.jvm_bridge serve) running the repo's
// pure-Python decoder: each command is one framed request to an idle
// bridge from a per-JVM pool, which spawns one only when every bridge is
// busy, so a call pays no interpreter start (Arrow IPC rows).  It is the
// format behind the SQL table names sql_table_from_array registers: the
// read options at, since, encryption_key, target_splits, bbox and
// spatial_* reach the bridge (since on every request, the rest on the
// split plan), so the view keeps every option format("tiledb_native")
// takes.
//
// Build/registration: tiledb_mariadb_spark.sources.jvm_agg compiles this
// file against the installed pyspark jars and loads it with ADD JAR, so
// `spark.read.format("tiledb_agg")` works in any session of this repo.

import com.fasterxml.jackson.databind.JsonNode;
import com.fasterxml.jackson.databind.ObjectMapper;
import java.io.BufferedInputStream;
import java.io.BufferedOutputStream;
import java.io.DataInputStream;
import java.io.DataOutputStream;
import java.io.EOFException;
import java.io.IOException;
import java.io.InputStream;
import java.io.OutputStream;
import org.apache.arrow.memory.BufferAllocator;
import org.apache.arrow.memory.RootAllocator;
import org.apache.arrow.vector.VectorSchemaRoot;
import org.apache.arrow.vector.ipc.ArrowStreamReader;
import java.io.Serializable;
import java.math.BigDecimal;
import java.nio.charset.StandardCharsets;
import java.util.ArrayList;
import java.util.List;
import java.util.Map;
import java.util.OptionalLong;
import java.util.concurrent.ConcurrentHashMap;
import java.util.concurrent.ConcurrentLinkedDeque;
import org.apache.spark.sql.classic.SparkSession;
import org.apache.spark.sql.catalyst.InternalRow;
import org.apache.spark.sql.catalyst.expressions.BasePredicate;
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow;
import org.apache.spark.sql.catalyst.expressions.Predicate$;
import org.apache.spark.sql.catalyst.expressions.SubqueryExpression;
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection;
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan;
import org.apache.spark.sql.catalyst.plans.logical.Project;
import org.apache.spark.sql.connector.catalog.SupportsRead;
import org.apache.spark.sql.connector.catalog.SupportsWrite;
import org.apache.spark.sql.connector.catalog.Table;
import org.apache.spark.sql.connector.catalog.TableCapability;
import org.apache.spark.sql.connector.catalog.TableProvider;
import org.apache.spark.sql.connector.expressions.Expression;
import org.apache.spark.sql.connector.expressions.GeneralScalarExpression;
import org.apache.spark.sql.connector.expressions.Literal;
import org.apache.spark.sql.connector.expressions.Expressions;
import org.apache.spark.sql.connector.expressions.NamedReference;
import org.apache.spark.sql.connector.expressions.NullOrdering;
import org.apache.spark.sql.connector.expressions.SortDirection;
import org.apache.spark.sql.connector.expressions.SortOrder;
import org.apache.spark.sql.connector.expressions.Transform;
import org.apache.spark.sql.connector.expressions.aggregate.AggregateFunc;
import org.apache.spark.sql.connector.expressions.aggregate.Aggregation;
import org.apache.spark.sql.connector.expressions.aggregate.Avg;
import org.apache.spark.sql.connector.expressions.aggregate.Count;
import org.apache.spark.sql.connector.expressions.aggregate.CountStar;
import org.apache.spark.sql.connector.expressions.aggregate.Max;
import org.apache.spark.sql.connector.expressions.aggregate.Min;
import org.apache.spark.sql.connector.expressions.aggregate.Sum;
import org.apache.spark.sql.connector.read.Batch;
import org.apache.spark.sql.connector.read.InputPartition;
import org.apache.spark.sql.connector.read.LocalScan;
import org.apache.spark.sql.connector.read.PartitionReader;
import org.apache.spark.sql.connector.read.PartitionReaderFactory;
import org.apache.spark.sql.connector.read.Scan;
import org.apache.spark.sql.connector.read.ScanBuilder;
import org.apache.spark.sql.connector.read.Statistics;
import org.apache.spark.sql.connector.read.SupportsPushDownAggregates;
import org.apache.spark.sql.connector.read.SupportsPushDownFilters;
import org.apache.spark.sql.connector.read.SupportsPushDownLimit;
import org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns;
import org.apache.spark.sql.connector.read.SupportsPushDownTopN;
import org.apache.spark.sql.connector.read.SupportsRuntimeFiltering;
import org.apache.spark.sql.connector.write.BatchWrite;
import org.apache.spark.sql.connector.write.DataWriter;
import org.apache.spark.sql.connector.write.DataWriterFactory;
import org.apache.spark.sql.connector.write.LogicalWriteInfo;
import org.apache.spark.sql.connector.write.PhysicalWriteInfo;
import org.apache.spark.sql.connector.write.Write;
import org.apache.spark.sql.connector.write.WriteBuilder;
import org.apache.spark.sql.connector.write.WriterCommitMessage;
import org.apache.spark.sql.connector.read.SupportsReportStatistics;
import org.apache.spark.sql.execution.LocalTableScanExec;
import org.apache.spark.sql.execution.SparkPlan;
import org.apache.spark.sql.execution.SparkStrategy;
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation;
import org.apache.spark.sql.sources.DataSourceRegister;
import org.apache.spark.sql.sources.EqualNullSafe;
import org.apache.spark.sql.sources.EqualTo;
import org.apache.spark.sql.sources.Filter;
import org.apache.spark.sql.sources.GreaterThan;
import org.apache.spark.sql.sources.GreaterThanOrEqual;
import org.apache.spark.sql.sources.In;
import org.apache.spark.sql.sources.IsNotNull;
import org.apache.spark.sql.sources.IsNull;
import org.apache.spark.sql.sources.LessThan;
import org.apache.spark.sql.sources.LessThanOrEqual;
import org.apache.spark.sql.sources.Not;
import org.apache.spark.sql.types.DataType;
import org.apache.spark.sql.types.DataTypes;
import org.apache.spark.sql.types.StructField;
import org.apache.spark.sql.types.StructType;
import org.apache.spark.sql.util.CaseInsensitiveStringMap;
import org.apache.spark.sql.vectorized.ArrowColumnVector;
import org.apache.spark.sql.vectorized.ColumnVector;
import org.apache.spark.sql.vectorized.ColumnarBatch;
import org.apache.spark.unsafe.types.UTF8String;
import scala.jdk.javaapi.CollectionConverters;

public class TileDBAggDataSource implements TableProvider, DataSourceRegister {

  @Override
  public String shortName() {
    return "tiledb_agg";
  }

  @Override
  public StructType inferSchema(CaseInsensitiveStringMap options) {
    Bridge b = Bridge.fromOptions(options);
    JsonNode out = b.call("schema");
    if (!out.path("ok").asBoolean(false)) {
      throw new RuntimeException(
          "tiledb_agg: schema bridge failed for " + b.uri + ": "
              + out.path("reason").asText());
    }
    return StructType.fromDDL(out.path("ddl").asText());
  }

  @Override
  public Table getTable(
      StructType schema, Transform[] partitioning, Map<String, String> properties) {
    return new AggTable(schema, new CaseInsensitiveStringMap(properties));
  }

  // ---- bridge -------------------------------------------------------------

  /** One array's view (uri, at, since, key) plus the interpreter that
   * serves it; every command goes as a request to a resident bridge. */
  static class Bridge implements Serializable {
    final String python;
    final String pythonPath;
    final String uri;
    final String at;
    final String since;
    final String encryptionKey;

    Bridge(
        String python, String pythonPath, String uri, String at, String since, String key) {
      this.python = python;
      this.pythonPath = pythonPath;
      this.uri = uri;
      this.at = at;
      this.since = since;
      this.encryptionKey = key;
    }

    static Bridge fromOptions(CaseInsensitiveStringMap o) {
      String uri = o.get("path");
      if (uri == null) {
        throw new IllegalArgumentException("tiledb_agg: option 'path' is required");
      }
      return new Bridge(
          o.getOrDefault("python", "python3"),
          o.getOrDefault("pythonpath", ""),
          uri,
          o.get("at"),
          o.get("since"),
          o.get("encryption_key"));
    }

    /** {@code cmd --uri uri [--at] [--since] [--encryption-key]}
     * followed by the flag/value {@code pairs} whose value is
     * non-null. */
    private List<String> argv(String cmd, String... pairs) {
      List<String> argv = new ArrayList<>();
      argv.add(cmd);
      argv.add("--uri");
      argv.add(uri);
      String[] common = {"--at", at, "--since", since, "--encryption-key", encryptionKey};
      for (String[] ps : new String[][] {common, pairs}) {
        for (int i = 0; i < ps.length; i += 2) {
          if (ps[i + 1] != null) {
            argv.add(ps[i]);
            argv.add(ps[i + 1]);
          }
        }
      }
      return argv;
    }

    /** A request that streams a payload ({@code write} rows) before its
     * reply.  A dead bridge is an error here: the payload cannot be
     * replayed. */
    Request open(String cmd, String... pairs) {
      Request q = new Request(Resident.borrow(python, pythonPath, false));
      try {
        q.sendHeader(argv(cmd, pairs));
      } catch (IOException e) {
        q.close();
        throw new RuntimeException("tiledb_agg " + cmd + " bridge died: " + e, e);
      }
      return q;
    }

    /** A payload-free request whose reply has started.  A bridge that
     * dies before its first reply byte is replaced by a fresh spawn and
     * asked once more, unless {@code cmd} is the job commit, which
     * writes. */
    Request ask(String cmd, String... pairs) {
      List<String> argv = argv(cmd, pairs);
      boolean retry = !cmd.equals("commitfrags");
      for (boolean fresh = false; ; fresh = true) {
        Request q = new Request(Resident.borrow(python, pythonPath, fresh));
        try {
          q.sendHeader(argv);
          q.startReply();
          return q;
        } catch (IOException e) {
          q.close();
          if (fresh || !retry) {
            throw new RuntimeException("tiledb_agg " + cmd + " bridge died: " + e, e);
          }
        }
      }
    }

    /** Single-JSON-object commands (schema / agg / gagg / splits / topk /
     * commitfrags).  A nonzero status, a dead bridge or an empty reply
     * throws with the bridge's stderr. */
    JsonNode call(String cmd, String... pairs) {
      Request q = ask(cmd, pairs);
      try {
        byte[] out = q.reply.readAllBytes();
        q.finish(cmd);
        if (out.length == 0) {
          throw new RuntimeException("tiledb_agg " + cmd + " bridge: empty reply");
        }
        return MAPPER.readTree(out);
      } catch (IOException e) {
        throw new RuntimeException("tiledb_agg " + cmd + " bridge failed: " + e, e);
      } finally {
        q.close();
      }
    }
  }

  static final ObjectMapper MAPPER = new ObjectMapper();

  /** One resident {@code python -m ...jvm_bridge serve} process.  Idle
   * bridges wait in a per-JVM pool keyed by (python, pythonpath); the
   * pool holds as many as calls ever ran at once.  A bridge that died
   * while idle is skipped at the next borrow; when the JVM exits, every
   * bridge reads EOF on stdin and exits. */
  static final class Resident {
    private static final ConcurrentHashMap<List<String>, ConcurrentLinkedDeque<Resident>>
        IDLE = new ConcurrentHashMap<>();

    final Process proc;
    final DataOutputStream out;
    final DataInputStream in;
    private final ConcurrentLinkedDeque<Resident> home;

    private Resident(Process proc, ConcurrentLinkedDeque<Resident> home) {
      this.proc = proc;
      this.out = new DataOutputStream(new BufferedOutputStream(proc.getOutputStream(), 1 << 16));
      this.in = new DataInputStream(new BufferedInputStream(proc.getInputStream(), 1 << 16));
      this.home = home;
    }

    /** An idle live bridge of this key, or a new one ({@code fresh}
     * skips the pool). */
    static Resident borrow(String python, String pythonPath, boolean fresh) {
      ConcurrentLinkedDeque<Resident> idle =
          IDLE.computeIfAbsent(List.of(python, pythonPath), k -> new ConcurrentLinkedDeque<>());
      for (Resident r; !fresh && (r = idle.pollFirst()) != null; ) {
        if (r.proc.isAlive()) {
          return r;
        }
        r.destroy();
      }
      // stderr goes to the JVM's: requests carry their own in the status
      // frame, so only the bridge's stray output lands there
      ProcessBuilder pb =
          new ProcessBuilder(python, "-m", "tiledb_mariadb_spark.tools.jvm_bridge", "serve")
              .redirectError(ProcessBuilder.Redirect.INHERIT);
      if (!pythonPath.isEmpty()) {
        pb.environment().put("PYTHONPATH", pythonPath);
      }
      try {
        return new Resident(pb.start(), idle);
      } catch (IOException e) {
        throw new RuntimeException("tiledb_agg: cannot launch bridge: " + e, e);
      }
    }

    void release() {
      home.offerFirst(this);
    }

    void destroy() {
      proc.destroy();
    }
  }

  /** One request on a resident bridge (wire in jvm_bridge.py): header
   * frame, payload frames, then the reply frames and one status frame.
   * The bridge goes back to the pool only after {@link #finish} read a
   * zero status; {@link #close} before that destroys it, so a reply
   * nobody read to its end never reaches the next request. */
  static final class Request implements AutoCloseable {
    private final Resident r;
    private boolean payloadEnded = false;
    private boolean replyEnded = false;
    private int frameLeft = 0;
    private boolean done = false;

    /** Payload bytes, sent as frames of up to 64 KiB. */
    final OutputStream payload;

    /** Reply bytes; EOF at the frame that ends them. */
    final InputStream reply =
        new InputStream() {
          @Override
          public int read() throws IOException {
            byte[] one = new byte[1];
            return read(one, 0, 1) < 0 ? -1 : one[0] & 0xff;
          }

          @Override
          public int read(byte[] b, int off, int len) throws IOException {
            if (len == 0) {
              return 0;
            }
            if (!nextFrame()) {
              return -1;
            }
            int n = r.in.read(b, off, Math.min(len, frameLeft));
            if (n < 0) {
              throw new EOFException("bridge reply ended inside a frame");
            }
            frameLeft -= n;
            return n;
          }

          @Override
          public void close() {
            // the bridge's stdout outlives this request
          }
        };

    Request(Resident r) {
      this.r = r;
      this.payload =
          new BufferedOutputStream(
              new OutputStream() {
                @Override
                public void write(int b) throws IOException {
                  write(new byte[] {(byte) b}, 0, 1);
                }

                @Override
                public void write(byte[] b, int off, int len) throws IOException {
                  if (len > 0) {
                    r.out.writeInt(len);
                    r.out.write(b, off, len);
                  }
                }
              },
              1 << 16);
    }

    void sendHeader(List<String> argv) throws IOException {
      byte[] head = MAPPER.writeValueAsBytes(argv);
      r.out.writeInt(head.length);
      r.out.write(head);
    }

    private void endPayload() throws IOException {
      if (!payloadEnded) {
        payload.flush();
        r.out.writeInt(0);
        r.out.flush();
        payloadEnded = true;
      }
    }

    /** Ends the payload and waits for the first reply frame. */
    void startReply() throws IOException {
      nextFrame();
    }

    /** True when the started reply carries no bytes at all. */
    boolean replyEmpty() {
      return replyEnded && frameLeft == 0;
    }

    private boolean nextFrame() throws IOException {
      endPayload();
      while (frameLeft == 0) {
        if (replyEnded) {
          return false;
        }
        frameLeft = r.in.readInt();
        replyEnded = frameLeft == 0;
      }
      return true;
    }

    /** Skips what is left of the reply, reads the status frame and
     * returns the bridge to the pool; a nonzero status throws with the
     * bridge's stderr. */
    void finish(String cmd) throws IOException {
      reply.transferTo(OutputStream.nullOutputStream());
      byte[] status = new byte[r.in.readInt()];
      r.in.readFully(status);
      JsonNode st = MAPPER.readTree(status);
      done = true;
      r.release();
      int rc = st.path("rc").asInt(-1);
      if (rc != 0) {
        throw new RuntimeException(
            "tiledb_agg " + cmd + " bridge failed (status " + rc + "): "
                + st.path("stderr").asText());
      }
    }

    @Override
    public void close() {
      if (!done) {
        done = true;
        r.destroy();
      }
    }
  }

  // ---- shared JSON -> Spark value conversion --------------------------------

  static Object jsonToSpark(JsonNode v, DataType t) {
    if (v == null || v.isNull()) {
      return null;
    }
    if (t == DataTypes.StringType) {
      return UTF8String.fromString(v.asText());
    }
    if (t == DataTypes.LongType) {
      return v.asLong();
    }
    if (t == DataTypes.IntegerType) {
      return (int) v.asLong();
    }
    if (t == DataTypes.ShortType) {
      return (short) v.asLong();
    }
    if (t == DataTypes.ByteType) {
      return (byte) v.asLong();
    }
    if (t == DataTypes.DoubleType) {
      return v.asDouble();
    }
    if (t == DataTypes.FloatType) {
      return (float) v.asDouble();
    }
    if (t == DataTypes.BooleanType) {
      return v.asBoolean();
    }
    throw new RuntimeException("tiledb_agg: unsupported type " + t);
  }

  // ---- table / scan builder ------------------------------------------------

  static class AggTable implements Table, SupportsRead, SupportsWrite {
    private final StructType schema;
    private final CaseInsensitiveStringMap options;

    AggTable(StructType schema, CaseInsensitiveStringMap options) {
      this.schema = schema;
      this.options = options;
    }

    @Override
    public String name() {
      return "tiledb_agg(" + options.get("path") + ")";
    }

    @Override
    public StructType schema() {
      return schema;
    }

    @Override
    public java.util.Set<TableCapability> capabilities() {
      return java.util.EnumSet.of(
          TableCapability.BATCH_READ, TableCapability.BATCH_WRITE);
    }

    @Override
    public WriteBuilder newWriteBuilder(LogicalWriteInfo info) {
      StructType in = info.schema();
      StructField[] want = schema.fields();
      if (in.fields().length != want.length) {
        throw new IllegalArgumentException(
            "tiledb_agg write: dataframe has " + in.fields().length
                + " columns, table has " + want.length);
      }
      for (int i = 0; i < want.length; i++) {
        if (!in.fields()[i].name().equals(want[i].name())) {
          throw new IllegalArgumentException(
              "tiledb_agg write: column " + i + " is '"
                  + in.fields()[i].name() + "', table wants '"
                  + want[i].name() + "' (order matters: dims first, "
                  + "then attributes in schema order)");
        }
      }
      CaseInsensitiveStringMap eff =
          info.options().containsKey("path") ? info.options() : options;
      return new AggWriteBuilder(schema, eff);
    }

    @Override
    public ScanBuilder newScanBuilder(CaseInsensitiveStringMap o) {
      // o carries the read options (path etc.); table options as fallback
      CaseInsensitiveStringMap eff = o.containsKey("path") ? o : options;
      return new AggScanBuilder(schema, eff);
    }
  }

  static class AggScanBuilder
      implements ScanBuilder,
          SupportsPushDownAggregates,
          SupportsPushDownFilters,
          SupportsPushDownLimit,
          SupportsPushDownRequiredColumns,
          SupportsPushDownTopN {
    private final StructType tableSchema;
    private final CaseInsensitiveStringMap options;
    private StructType required = null; // pruned projection (null = all)
    private final List<List<Object>> conds = new ArrayList<>();
    private Filter[] accepted = new Filter[0];
    private StructType aggSchema = null;
    private List<Object[]> aggRows = null;
    private boolean aggGrouped = false;
    private Integer limit = null;

    @Override
    public boolean pushLimit(int n) {
      // advisory: each split truncates its survivors to n rows (wire +
      // Arrow cost shrink); Spark still applies the global limit, so
      // returning false keeps semantics exact.  (Only reached for a
      // bare LIMIT — Spark routes ORDER BY ... LIMIT to pushTopN.)
      this.limit = n;
      return false;
    }

    @Override
    public boolean isPartiallyPushed() {
      // both pushLimit and pushTopN here are partial: Spark keeps the
      // exact global limit (and sort) above the scan
      return true;
    }

    /** ORDER BY col LIMIT n: the zone-map bound (topk_array's
     * metadata walk, tiledb_native.py::topk_threshold) rides back as
     * an ordinary pushed condition, so fragment/tile skip and
     * condition-NED planning prune everything provably outside the
     * top-n.  Partially pushed (default): Spark keeps the exact sort +
     * limit above the scan.  NO per-split row truncation here — the
     * top-n by col can live anywhere in a split. */
    @Override
    public boolean pushTopN(SortOrder[] orders, int n) {
      if (aggRows != null || orders.length != 1 || spatialWindow()) {
        return false;
      }
      SortOrder o = orders[0];
      String col = singleColumn(o.expression());
      if (col == null || fieldType(col) == null) {
        return false;
      }
      boolean asc = o.direction() == SortDirection.ASCENDING;
      // the pushed threshold condition drops NULLs (3VL): only safe
      // when NULLs sort LAST (they can never be in the guaranteed
      // top-n) or the column cannot hold them
      boolean nullable = true;
      for (StructField f : tableSchema.fields()) {
        if (f.name().equals(col)) {
          nullable = f.nullable();
        }
      }
      if (nullable && o.nullOrdering() != NullOrdering.NULLS_LAST) {
        return false;
      }
      Bridge b = Bridge.fromOptions(options);
      JsonNode out =
          b.call(
              "topk",
              "--topk", col + ":" + (asc ? "asc" : "desc") + ":" + n,
              "--conditions", condsJson());
      if (out.path("ok").asBoolean(false) && out.hasNonNull("thr")) {
        JsonNode thr = out.path("thr");
        Object v;
        if (thr.isTextual()) {
          v = thr.asText();
        } else if (thr.isIntegralNumber()) {
          v = thr.asLong();
        } else if (thr.isNumber()) {
          v = thr.asDouble();
        } else {
          return true; // unexpected shape: topN accepted, no pruning
        }
        List<Object> c = new ArrayList<>();
        c.add(col);
        c.add(asc ? "<=" : ">=");
        c.add(v);
        conds.add(c);
      }
      return true;
    }

    AggScanBuilder(StructType tableSchema, CaseInsensitiveStringMap options) {
      this.tableSchema = tableSchema;
      this.options = options;
    }

    /** The box/spatial options narrow only the split plan, so metadata
     * answers over the whole array cannot stand for the view. */
    private boolean spatialWindow() {
      return options.containsKey("bbox") || options.containsKey("spatial_wkb");
    }

    private static String singleColumn(Expression e) {
      if (e instanceof NamedReference) {
        String[] parts = ((NamedReference) e).fieldNames();
        if (parts.length == 1) {
          return parts[0];
        }
      }
      return null;
    }

    private DataType fieldType(String name) {
      for (StructField f : tableSchema.fields()) {
        if (f.name().equalsIgnoreCase(name)) {
          return f.dataType();
        }
      }
      return null;
    }

    private static boolean integral(DataType t) {
      return t == DataTypes.ByteType
          || t == DataTypes.ShortType
          || t == DataTypes.IntegerType
          || t == DataTypes.LongType;
    }

    // ---- filter pushdown ---------------------------------------------------

    private static boolean okValue(Object v) {
      return v instanceof Integer
          || v instanceof Long
          || v instanceof Short
          || v instanceof Byte
          || v instanceof Double
          || v instanceof Float
          || v instanceof String
          || v instanceof Boolean;
    }

    /** v1 Filter -> bridge condition triple, or null when not
     * expressible.  The Python side applies accepted conditions
     * EXACTLY (3VL: NULL fails every comparison, like Spark), so they
     * carry no residual. */
    private List<Object> translate(Filter f) {
      if (f instanceof EqualTo) {
        EqualTo e = (EqualTo) f;
        if (fieldType(e.attribute()) != null && okValue(e.value())) {
          return List.of(e.attribute(), "=", e.value());
        }
      } else if (f instanceof EqualNullSafe) {
        EqualNullSafe e = (EqualNullSafe) f;
        if (fieldType(e.attribute()) != null) {
          if (e.value() == null) {
            return List.of(e.attribute(), "is_null");
          }
          if (okValue(e.value())) {
            // c <=> v with v non-null == (c = v AND c IS NOT NULL),
            // exactly the decoder's "=" mask
            return List.of(e.attribute(), "=", e.value());
          }
        }
      } else if (f instanceof GreaterThan) {
        GreaterThan e = (GreaterThan) f;
        if (fieldType(e.attribute()) != null && okValue(e.value())) {
          return List.of(e.attribute(), ">", e.value());
        }
      } else if (f instanceof GreaterThanOrEqual) {
        GreaterThanOrEqual e = (GreaterThanOrEqual) f;
        if (fieldType(e.attribute()) != null && okValue(e.value())) {
          return List.of(e.attribute(), ">=", e.value());
        }
      } else if (f instanceof LessThan) {
        LessThan e = (LessThan) f;
        if (fieldType(e.attribute()) != null && okValue(e.value())) {
          return List.of(e.attribute(), "<", e.value());
        }
      } else if (f instanceof LessThanOrEqual) {
        LessThanOrEqual e = (LessThanOrEqual) f;
        if (fieldType(e.attribute()) != null && okValue(e.value())) {
          return List.of(e.attribute(), "<=", e.value());
        }
      } else if (f instanceof In) {
        In e = (In) f;
        if (fieldType(e.attribute()) != null) {
          List<Object> vals = new ArrayList<>();
          for (Object v : e.values()) {
            if (v == null) {
              continue; // IN's NULL member never matches (3VL)
            }
            if (!okValue(v)) {
              return null;
            }
            vals.add(v);
          }
          return List.of(e.attribute(), "in", vals);
        }
      } else if (f instanceof IsNull) {
        IsNull e = (IsNull) f;
        if (fieldType(e.attribute()) != null) {
          return List.of(e.attribute(), "is_null");
        }
      } else if (f instanceof IsNotNull) {
        IsNotNull e = (IsNotNull) f;
        if (fieldType(e.attribute()) != null) {
          return List.of(e.attribute(), "is_not_null");
        }
      } else if (f instanceof Not && ((Not) f).child() instanceof EqualTo) {
        EqualTo e = (EqualTo) ((Not) f).child();
        if (fieldType(e.attribute()) != null && okValue(e.value())) {
          return List.of(e.attribute(), "!=", e.value());
        }
      }
      return null;
    }

    @Override
    public Filter[] pushFilters(Filter[] filters) {
      List<Filter> residual = new ArrayList<>();
      List<Filter> ok = new ArrayList<>();
      for (Filter f : filters) {
        List<Object> c = translate(f);
        if (c != null) {
          conds.add(c);
          ok.add(f);
        } else {
          residual.add(f);
        }
      }
      accepted = ok.toArray(new Filter[0]);
      return residual.toArray(new Filter[0]);
    }

    @Override
    public Filter[] pushedFilters() {
      return accepted;
    }

    private String condsJson() {
      if (conds.isEmpty()) {
        return null;
      }
      try {
        return new ObjectMapper().writeValueAsString(conds);
      } catch (Exception e) {
        throw new RuntimeException("tiledb_agg: conditions JSON: " + e, e);
      }
    }

    // ---- column pruning ----------------------------------------------------

    @Override
    public void pruneColumns(StructType requiredSchema) {
      this.required = requiredSchema;
    }

    // ---- aggregate pushdown ------------------------------------------------

    @Override
    public boolean supportCompletePushDown(Aggregation aggregation) {
      return tryPush(aggregation);
    }

    @Override
    public boolean pushAggregation(Aggregation aggregation) {
      return aggRows != null || tryPush(aggregation);
    }

    private static Expression unwrapCast(Expression e) {
      while (e instanceof org.apache.spark.sql.connector.expressions.Cast) {
        e = ((org.apache.spark.sql.connector.expressions.Cast) e).expression();
      }
      return e;
    }

    /** Match FLOOR(col / width) (modulo casts) -> {col, width}, else
     * null.  This is the V2 shape Catalyst emits for the SQL bucketed
     * rollup `GROUP BY FLOOR(k / 100)`. */
    private Object[] matchFloorDiv(Expression e) {
      e = unwrapCast(e);
      if (!(e instanceof GeneralScalarExpression)) {
        return null;
      }
      GeneralScalarExpression fl = (GeneralScalarExpression) e;
      if (!"FLOOR".equals(fl.name()) || fl.children().length != 1) {
        return null;
      }
      Expression div = unwrapCast(fl.children()[0]);
      if (!(div instanceof GeneralScalarExpression)) {
        return null;
      }
      GeneralScalarExpression d = (GeneralScalarExpression) div;
      if (!"/".equals(d.name()) || d.children().length != 2) {
        return null;
      }
      String col = singleColumn(unwrapCast(d.children()[0]));
      Expression rhs = unwrapCast(d.children()[1]);
      if (col == null || !(rhs instanceof Literal)) {
        return null;
      }
      Object w = ((Literal<?>) rhs).value();
      long width;
      try {
        BigDecimal bd = new BigDecimal(String.valueOf(w));
        if (bd.stripTrailingZeros().scale() > 0) {
          return null; // fractional width: not an integer bucket grid
        }
        width = bd.longValueExact();
      } catch (Exception ex) {
        return null;
      }
      if (width <= 0) {
        return null;
      }
      return new Object[] {col, width};
    }

    private boolean tryPush(Aggregation aggregation) {
      if (aggRows != null) {
        return true;
      }
      if (spatialWindow()) {
        return false;
      }
      Expression[] groups = aggregation.groupByExpressions();
      // each group expr: a plain integral column (width-1 buckets) or
      // FLOOR(col / width); multiple groups form an N-D grid rollup
      List<String> groupCols = new ArrayList<>();
      List<Long> groupWidths = new ArrayList<>();
      List<DataType> groupTypes = new ArrayList<>();
      for (Expression g : groups) {
        String c = singleColumn(g);
        long w;
        DataType gt;
        if (c != null) {
          DataType t = fieldType(c);
          if (t == null || !integral(t)) {
            return false;
          }
          w = 1;
          gt = t;
        } else {
          Object[] fd = matchFloorDiv(g);
          if (fd == null) {
            return false;
          }
          c = (String) fd[0];
          w = (Long) fd[1];
          DataType t = fieldType(c);
          if (t == null || !integral(t)) {
            return false;
          }
          gt = DataTypes.LongType; // FLOOR(double) is LONG
        }
        if (groupCols.contains(c)) {
          return false; // one bucketing per column
        }
        groupCols.add(c);
        groupWidths.add(w);
        groupTypes.add(gt);
      }
      List<String> reqs = new ArrayList<>();
      List<DataType> types = new ArrayList<>();
      for (AggregateFunc f : aggregation.aggregateExpressions()) {
        if (f instanceof CountStar) {
          reqs.add("count");
          types.add(DataTypes.LongType);
        } else if (f instanceof Min) {
          String c = singleColumn(((Min) f).column());
          DataType t = c == null ? null : fieldType(c);
          if (t == null) {
            return false;
          }
          reqs.add("min:" + c);
          types.add(t);
        } else if (f instanceof Max) {
          String c = singleColumn(((Max) f).column());
          DataType t = c == null ? null : fieldType(c);
          if (t == null) {
            return false;
          }
          reqs.add("max:" + c);
          types.add(t);
        } else if (f instanceof Sum) {
          Sum s = (Sum) f;
          String c = singleColumn(s.column());
          DataType t = c == null ? null : fieldType(c);
          if (s.isDistinct() || t == null) {
            return false;
          }
          if (!integral(t) && t != DataTypes.DoubleType && t != DataTypes.FloatType) {
            return false;
          }
          reqs.add("sum:" + c);
          types.add(integral(t) ? DataTypes.LongType : DataTypes.DoubleType);
        } else if (f instanceof Avg) {
          Avg a = (Avg) f;
          String c = singleColumn(a.column());
          DataType t = c == null ? null : fieldType(c);
          if (a.isDistinct() || t == null) {
            return false;
          }
          if (!integral(t) && t != DataTypes.DoubleType && t != DataTypes.FloatType) {
            return false;
          }
          reqs.add("avg:" + c);
          types.add(DataTypes.DoubleType);
        } else if (f instanceof Count) {
          Count cf = (Count) f;
          String c = singleColumn(cf.column());
          if (cf.isDistinct() || c == null || fieldType(c) == null) {
            return false;
          }
          reqs.add("countcol:" + c);
          types.add(DataTypes.LongType);
        } else {
          return false;
        }
      }
      Bridge b = Bridge.fromOptions(options);
      String cj = condsJson();
      List<Object[]> rows = new ArrayList<>();
      List<StructField> fields = new ArrayList<>();
      int off = 0;
      if (groupCols.isEmpty()) {
        JsonNode out = b.call("agg", "--aggs", String.join(";", reqs), "--conditions", cj);
        if (!out.path("ok").asBoolean(false)) {
          return false; // metadata cannot prove it: honest scan fallback
        }
        JsonNode vals = out.path("values");
        if (!vals.isArray() || vals.size() != reqs.size()) {
          return false;
        }
        Object[] row = new Object[reqs.size()];
        for (int i = 0; i < reqs.size(); i++) {
          try {
            row[i] = jsonToSpark(vals.get(i), types.get(i));
          } catch (RuntimeException ex) {
            return false; // unexpected stat type
          }
        }
        rows.add(row);
      } else {
        StringBuilder gspec = new StringBuilder();
        for (int i = 0; i < groupCols.size(); i++) {
          if (i > 0) {
            gspec.append(",");
          }
          gspec.append(groupCols.get(i)).append(":").append(groupWidths.get(i));
        }
        JsonNode out =
            b.call(
                "gagg",
                "--aggs", String.join(";", reqs),
                "--conditions", cj,
                "--group", gspec.toString());
        if (!out.path("ok").asBoolean(false)) {
          return false;
        }
        JsonNode jrows = out.path("rows");
        if (!jrows.isArray()) {
          return false;
        }
        int ng = groupCols.size();
        for (JsonNode jr : jrows) {
          if (!jr.isArray() || jr.size() != reqs.size() + ng) {
            return false;
          }
          Object[] row = new Object[reqs.size() + ng];
          try {
            // width-1 buckets ARE the coordinate; FLOOR buckets are LONG
            for (int i = 0; i < ng; i++) {
              row[i] = jsonToSpark(jr.get(i), groupTypes.get(i));
            }
            for (int i = 0; i < reqs.size(); i++) {
              row[i + ng] = jsonToSpark(jr.get(i + ng), types.get(i));
            }
          } catch (RuntimeException ex) {
            return false;
          }
          rows.add(row);
        }
        for (int i = 0; i < ng; i++) {
          fields.add(
              new StructField(
                  "group_" + i,
                  groupTypes.get(i),
                  true,
                  org.apache.spark.sql.types.Metadata.empty()));
        }
        off = ng;
        aggGrouped = true;
      }
      for (int i = 0; i < reqs.size(); i++) {
        fields.add(
            new StructField(
                "agg_" + i, types.get(i), true, org.apache.spark.sql.types.Metadata.empty()));
      }
      this.aggRows = rows;
      this.aggSchema = new StructType(fields.toArray(new StructField[0]));
      // off is only informational (group cols precede aggs)
      if (off > 0 && aggSchema.fields().length != reqs.size() + off) {
        throw new IllegalStateException("tiledb_agg: grouped schema drift");
      }
      return true;
    }

    @Override
    public Scan build() {
      if (aggRows != null) {
        return new MetadataAggScan(aggSchema, aggRows, aggGrouped);
      }
      StructType s = required != null ? required : tableSchema;
      String columnsJson = null;
      if (required != null) {
        try {
          List<String> names = new ArrayList<>();
          for (StructField f : s.fields()) {
            names.add(f.name());
          }
          columnsJson = new ObjectMapper().writeValueAsString(names);
        } catch (Exception e) {
          throw new RuntimeException("tiledb_agg: columns JSON: " + e, e);
        }
      }
      // the query's one planning request; every later request of the
      // scan reads the snapshot it was planned at
      Map<String, String> opts = new java.util.HashMap<>(options.asCaseSensitiveMap());
      String cj = condsJson();
      JsonNode plan = planSplits(opts, cj);
      if (!options.containsKey("at") && plan.hasNonNull("at")) {
        opts.put("at", plan.path("at").asText());
      }
      return plan.path("local").asBoolean(false)
          ? new LocalRowScan(s, opts, cj, columnsJson, limit, plan)
          : new RowScan(s, opts, cj, columnsJson, limit, plan);
    }
  }

  // ---- metadata-aggregate scan: stat rows, zero/edge tiles decoded ----------

  /** The pushed aggregate's rows, already in the driver. */
  static class MetadataAggScan implements LocalScan, SupportsReportStatistics {
    private final StructType schema;
    private final List<Object[]> rows;
    private final boolean grouped;

    MetadataAggScan(StructType schema, List<Object[]> rows, boolean grouped) {
      this.schema = schema;
      this.rows = rows;
      this.grouped = grouped;
    }

    @Override
    public Statistics estimateStatistics() {
      return statistics(true, rows.size(), rows.size() * 8L * Math.max(1, schema.fields().length));
    }

    @Override
    public StructType readSchema() {
      return schema;
    }

    @Override
    public String description() {
      return grouped
          ? "TileDBMetadataAggScan(GroupedPushedAggregates)"
          : "TileDBMetadataAggScan(PushedAggregates)";
    }

    @Override
    public InternalRow[] rows() {
      InternalRow[] out = new InternalRow[rows.size()];
      for (int i = 0; i < out.length; i++) {
        out[i] = new GenericInternalRow(rows.get(i).clone());
      }
      return out;
    }
  }

  static Statistics statistics(boolean known, long rows, long bytes) {
    return new Statistics() {
      @Override
      public OptionalLong sizeInBytes() {
        return known ? OptionalLong.of(bytes) : OptionalLong.empty();
      }

      @Override
      public OptionalLong numRows() {
        return known ? OptionalLong.of(rows) : OptionalLong.empty();
      }
    };
  }

  // ---- row-scan path (bridge Arrow IPC; filters exact, columns pruned) -----

  /** The bridge's split plan for one condition set (jvm_bridge.py
   * splits): the splits, the piggybacked stats, the {@code local} flag
   * and the snapshot {@code at} the plan was made at. */
  static JsonNode planSplits(Map<String, String> opts, String condsJson) {
    CaseInsensitiveStringMap o = new CaseInsensitiveStringMap(opts);
    return Bridge.fromOptions(o)
        .call(
            "splits",
            "--conditions", condsJson,
            "--target-splits", o.get("target_splits"),
            "--bbox", o.get("bbox"),
            "--spatial-wkb", o.get("spatial_wkb"),
            "--spatial-dims", o.get("spatial_dims"),
            "--spatial-pad", o.get("spatial_pad"));
  }

  /** A filter- and column-pushed scan over the bridge's split plan.
   * {@code opts} carry the snapshot the plan was made at, so every
   * request of the scan sees one array state. */
  abstract static class BridgeRowScan implements Scan, SupportsReportStatistics {
    final StructType schema;
    final Map<String, String> opts;
    final String condsJson;
    final String columnsJson;
    final Integer limit;

    // ONE planning request per condition set: the splits reply
    // piggybacks the stats payload, cached here and keyed by the
    // effective condition set (runtime filters invalidate it)
    private transient JsonNode planOut;
    private transient String planKey;

    BridgeRowScan(
        StructType schema,
        Map<String, String> opts,
        String condsJson,
        String columnsJson,
        Integer limit,
        JsonNode plan) {
      this.schema = schema;
      this.opts = opts;
      this.condsJson = condsJson;
      this.columnsJson = columnsJson;
      this.limit = limit;
      this.planOut = plan;
      this.planKey = condsJson == null ? "" : condsJson;
    }

    String effectiveConds() {
      return condsJson;
    }

    JsonNode planCall() {
      String key = effectiveConds() == null ? "" : effectiveConds();
      if (planOut == null || !key.equals(planKey)) {
        planOut = planSplits(opts, effectiveConds());
        planKey = key;
      }
      return planOut;
    }

    /** Metadata-only planning statistics (records_in_range parity,
     * ha_mytile.cc:1424-1468): exact footer COUNT or the R-tree
     * upper bound, narrowed by pushed dim ranges — lets Spark pick
     * broadcast joins for genuinely small arrays instead of assuming
     * the default (huge) size.  Served from the cached splits call. */
    @Override
    public Statistics estimateStatistics() {
      JsonNode plan = planCall();
      JsonNode st = plan.path("ok").asBoolean(false) ? plan.path("stats") : null;
      boolean ok = st != null && !st.isNull() && st.has("rows");
      return statistics(
          ok, ok ? st.path("rows").asLong() : 0, ok ? st.path("bytes").asLong() : 0);
    }

    @Override
    public StructType readSchema() {
      return schema;
    }

    @Override
    public String description() {
      return "TileDBBridgeRowScan"
          + (this instanceof LocalScan ? " Local" : "")
          + (condsJson == null ? "" : " PushedConditions: " + condsJson)
          + (columnsJson == null ? "" : " PrunedColumns: " + columnsJson)
          + (limit == null ? "" : " PushedLimit: " + limit);
    }

    /** One partition per planned split: scan_ranges (pushed dim ranges
     * + condition-NED) then scan_splits (dim0 cuts / R-tree weights /
     * string boundary keys), the planner every read surface shares.  An
     * empty list = provably empty -> ZERO partitions; a null entry =
     * unbounded full scan; no usable reply = one unbounded scan. */
    RowsPartition[] partitions() {
      JsonNode out = planCall();
      List<RowsPartition> parts = new ArrayList<>();
      if (out.path("ok").asBoolean(false) && out.path("splits").isArray()) {
        for (JsonNode s : out.path("splits")) {
          parts.add(
              new RowsPartition(
                  opts, s.isNull() ? null : s.toString(), effectiveConds(), columnsJson, limit));
        }
      } else {
        parts.add(new RowsPartition(opts, null, effectiveConds(), columnsJson, limit));
      }
      return parts.toArray(new RowsPartition[0]);
    }
  }

  /** A plan of at most one split small enough for one task (the
   * bridge's {@code local} flag): Spark plans it as a
   * LocalTableScanExec, whose collect() runs no job.  The rows are read
   * once, through the same {@code rows} request and reader a task
   * would use, and copied out of the Arrow batches. */
  static class LocalRowScan extends BridgeRowScan implements LocalScan {
    private transient InternalRow[] rows;

    LocalRowScan(
        StructType schema,
        Map<String, String> opts,
        String condsJson,
        String columnsJson,
        Integer limit,
        JsonNode plan) {
      super(schema, opts, condsJson, columnsJson, limit, plan);
    }

    @Override
    public synchronized InternalRow[] rows() {
      if (rows == null) {
        UnsafeProjection copy = UnsafeProjection.create(schema);
        List<InternalRow> out = new ArrayList<>();
        for (RowsPartition p : partitions()) {
          ColumnarRowsReader r = new ColumnarRowsReader(p, schema);
          try {
            while (r.next()) {
              java.util.Iterator<InternalRow> it = r.get().rowIterator();
              while (it.hasNext()) {
                out.add(copy.apply(it.next()).copy());
              }
            }
          } finally {
            r.close();
          }
        }
        rows = out.toArray(new InternalRow[0]);
      }
      return rows;
    }
  }

  static class RowScan extends BridgeRowScan implements Batch, SupportsRuntimeFiltering {
    RowScan(
        StructType schema,
        Map<String, String> opts,
        String condsJson,
        String columnsJson,
        Integer limit,
        JsonNode plan) {
      super(schema, opts, condsJson, columnsJson, limit, plan);
    }

    // runtime (DPP-style) conditions folded in AFTER planning starts:
    // a broadcast join side's dim values arrive as In()/EqualTo()
    // filters, become ordinary pushed conditions, and the split
    // planner's condition-NED + range folding then skips fragments and
    // plans zero tasks where no key lives (Iceberg-style file skip at
    // fragment granularity).  Exact application in the bridge keeps
    // semantics correct even if the values over-approximate.
    private String runtimeCondsJson = null;

    @Override
    public NamedReference[] filterAttributes() {
      StructField[] fields = schema.fields();
      NamedReference[] refs = new NamedReference[fields.length];
      for (int i = 0; i < fields.length; i++) {
        refs[i] = Expressions.column(fields[i].name());
      }
      return refs;
    }

    @Override
    public void filter(Filter[] filters) {
      List<List<Object>> conds = new ArrayList<>();
      for (Filter f : filters) {
        if (f instanceof In) {
          In in = (In) f;
          List<Object> c = new ArrayList<>();
          c.add(in.attribute());
          c.add("in");
          List<Object> vals = new ArrayList<>();
          for (Object v : in.values()) {
            if (!(v instanceof Number || v instanceof String || v instanceof Boolean)) {
              c = null;
              break;
            }
            vals.add(v);
          }
          if (c != null) {
            c.add(vals);
            conds.add(c);
          }
        } else if (f instanceof EqualTo) {
          EqualTo eq = (EqualTo) f;
          Object v = eq.value();
          if (v instanceof Number || v instanceof String || v instanceof Boolean) {
            List<Object> c = new ArrayList<>();
            c.add(eq.attribute());
            c.add("=");
            c.add(v);
            conds.add(c);
          }
        }
        // anything else: ignored — runtime filters are an optimization,
        // Spark re-applies them above the scan
      }
      if (conds.isEmpty()) {
        return;
      }
      try {
        ObjectMapper m = new ObjectMapper();
        List<Object> merged = new ArrayList<>();
        if (condsJson != null) {
          for (JsonNode n : m.readTree(condsJson)) {
            merged.add(m.treeToValue(n, Object.class));
          }
        }
        merged.addAll(conds);
        runtimeCondsJson = m.writeValueAsString(merged);
      } catch (Exception e) {
        runtimeCondsJson = null; // optimization only: fall back to planned conds
      }
    }

    @Override
    String effectiveConds() {
      return runtimeCondsJson != null ? runtimeCondsJson : condsJson;
    }

    @Override
    public Batch toBatch() {
      return this;
    }

    @Override
    public InputPartition[] planInputPartitions() {
      return partitions();
    }

    @Override
    public PartitionReaderFactory createReaderFactory() {
      return new RowsReaderFactory(schema);
    }
  }

  static class RowsReaderFactory implements PartitionReaderFactory {
    private final StructType schema;

    RowsReaderFactory(StructType schema) {
      this.schema = schema;
    }

    @Override
    public PartitionReader<InternalRow> createReader(InputPartition p) {
      // supportColumnarReads is true for every partition, so Spark only
      // ever asks for the columnar reader
      throw new UnsupportedOperationException("tiledb_agg row scans are columnar-only");
    }

    @Override
    public boolean supportColumnarReads(InputPartition p) {
      return true;
    }

    @Override
    public PartitionReader<ColumnarBatch> createColumnarReader(InputPartition p) {
      return new ColumnarRowsReader((RowsPartition) p, schema);
    }
  }

  static class RowsPartition implements InputPartition {
    final Map<String, String> opts;
    final String rangesJson; // null = unbounded
    final String condsJson; // null = no pushed conditions
    final String columnsJson; // null = full schema order
    final Integer limit; // null = no pushed limit (advisory per split)

    RowsPartition(
        Map<String, String> opts,
        String rangesJson,
        String condsJson,
        String columnsJson,
        Integer limit) {
      this.opts = opts;
      this.rangesJson = rangesJson;
      this.condsJson = condsJson;
      this.columnsJson = columnsJson;
      this.limit = limit;
    }
  }

  /** The row scan's reader: the bridge's Arrow IPC batches are handed
   * to Spark as ColumnarBatch — ArrowColumnVector wraps each FieldVector
   * zero-copy, with no per-row InternalRow conversion.  The bridge
   * emits an EXPLICIT Arrow schema equal to the pruned Spark schema, so
   * vector types match by construction; a zero-column scan (COUNT(*))
   * gets zero-column batches whose row counts carry the rows. */
  static class ColumnarRowsReader implements PartitionReader<ColumnarBatch> {
    private final Request req;
    private final StructType schema;
    private BufferAllocator allocator;
    private ArrowStreamReader arrow;
    private VectorSchemaRoot root;
    private ColumnarBatch current;

    ColumnarRowsReader(RowsPartition part, StructType schema) {
      this.schema = schema;
      Bridge b = Bridge.fromOptions(new CaseInsensitiveStringMap(part.opts));
      this.req =
          b.ask(
              "rows",
              "--ranges", part.rangesJson,
              "--conditions", part.condsJson,
              "--columns", part.columnsJson,
              "--limit", part.limit == null ? null : String.valueOf(part.limit));
      if (req.replyEmpty()) {
        return; // no Arrow stream: next() surfaces the status
      }
      allocator = new RootAllocator(Long.MAX_VALUE);
      arrow = new ArrowStreamReader(req.reply, allocator);
      try {
        root = arrow.getVectorSchemaRoot();
      } catch (Exception e) {
        close();
        throw new RuntimeException("tiledb_agg columnar bridge open failed: " + e, e);
      }
    }

    @Override
    public boolean next() {
      try {
        if (arrow == null || !arrow.loadNextBatch()) {
          req.finish("rows");
          return false;
        }
        ColumnVector[] vecs = new ColumnVector[schema.fields().length];
        for (int i = 0; i < vecs.length; i++) {
          vecs[i] = new ArrowColumnVector(root.getVector(i));
        }
        current = new ColumnarBatch(vecs, root.getRowCount());
        return true;
      } catch (RuntimeException e) {
        throw e;
      } catch (Exception e) {
        throw new RuntimeException("tiledb_agg columnar bridge read failed: " + e, e);
      }
    }

    @Override
    public ColumnarBatch get() {
      return current;
    }

    @Override
    public void close() {
      try {
        if (arrow != null) {
          arrow.close();
        }
        if (allocator != null) {
          allocator.close();
        }
      } catch (Exception ignored) {
        // release-path best effort
      }
      req.close(); // a stream left unread destroys its bridge
    }
  }

  // ---- planner strategy: a projection or filter over a local scan, in the driver

  /** Spark puts a Project (the aliases) over every completely pushed
   * aggregate, and a Filter over a scan for every predicate the scan
   * did not take (e.g. {@code v % 7 = 3}); ProjectExec and FilterExec
   * over LocalTableScanExec run as a Spark job.  This strategy plans a
   * deterministic, subquery-free Project, Filter, or Project over a
   * Filter, straight over one of this format's LocalScans as a
   * LocalTableScanExec of the filtered, projected rows, so collect()
   * stays in the driver.  A session without it plans the same query
   * correctly, with one job. */
  public static final class LocalProjectStrategy extends SparkStrategy {
    @Override
    @SuppressWarnings({"unchecked", "rawtypes"})
    public scala.collection.immutable.Seq<SparkPlan> apply(LogicalPlan plan) {
      List<SparkPlan> out = new ArrayList<>();
      LogicalPlan child = plan;
      scala.collection.immutable.Seq exprs = null; // null: no Project
      if (child instanceof Project) {
        exprs = ((Project) child).projectList();
        child = ((Project) child).child();
      }
      org.apache.spark.sql.catalyst.expressions.Expression cond = null;
      if (child instanceof org.apache.spark.sql.catalyst.plans.logical.Filter) {
        cond = ((org.apache.spark.sql.catalyst.plans.logical.Filter) child).condition();
        child = ((org.apache.spark.sql.catalyst.plans.logical.Filter) child).child();
      }
      if (child != plan && child instanceof DataSourceV2ScanRelation) {
        DataSourceV2ScanRelation rel = (DataSourceV2ScanRelation) child;
        scala.collection.immutable.Seq input = rel.output();
        if (ownLocalScan(rel.scan())
            && (exprs == null || driverSafe(CollectionConverters.asJava(exprs)))
            && (cond == null || driverSafe(List.of(cond)))) {
          BasePredicate pred = null;
          if (cond != null) {
            pred = Predicate$.MODULE$.create(cond, input);
            pred.initialize(0);
          }
          UnsafeProjection proj = UnsafeProjection.create(exprs == null ? input : exprs, input);
          proj.initialize(0);
          List<InternalRow> rows = new ArrayList<>();
          for (InternalRow r : ((LocalScan) rel.scan()).rows()) {
            if (pred == null || pred.eval(r)) {
              rows.add(proj.apply(r).copy());
            }
          }
          out.add(
              new LocalTableScanExec(
                  plan.output(), CollectionConverters.asScala(rows).toList(), scala.Option.empty()));
        }
      }
      return CollectionConverters.asScala(out).toList();
    }

    private static boolean ownLocalScan(Scan scan) {
      // by name: the session may have loaded this jar more than once
      return scan instanceof LocalScan
          && scan.getClass().getName().startsWith(TileDBAggDataSource.class.getName() + "$");
    }

    private static boolean driverSafe(Iterable<?> exprs) {
      for (Object o : exprs) {
        org.apache.spark.sql.catalyst.expressions.Expression e =
            (org.apache.spark.sql.catalyst.expressions.Expression) o;
        if (!e.deterministic() || SubqueryExpression.hasSubquery(e)) {
          return false;
        }
      }
      return true;
    }
  }

  /** Appends {@link LocalProjectStrategy} to {@code session}'s extra
   * planner strategies unless it is there already. */
  public static void installStrategy(SparkSession session) {
    org.apache.spark.sql.ExperimentalMethods x = session.experimental();
    synchronized (x) {
      List<SparkStrategy> have = new ArrayList<>(CollectionConverters.asJava(x.extraStrategies()));
      for (SparkStrategy st : have) {
        if (st.getClass().getName().equals(LocalProjectStrategy.class.getName())) {
          return;
        }
      }
      have.add(new LocalProjectStrategy());
      x.extraStrategies_$eq(CollectionConverters.asScala(have).toList());
    }
  }

  // ---- write path: staged fragment per task, atomic job commit -------------

  static class AggWriteBuilder implements WriteBuilder {
    private final StructType schema;
    private final CaseInsensitiveStringMap options;

    AggWriteBuilder(StructType schema, CaseInsensitiveStringMap options) {
      this.schema = schema;
      this.options = options;
    }

    @Override
    public Write build() {
      return new AggWrite(schema, options);
    }
  }

  public static class FragMessage implements WriterCommitMessage {
    // public: the driver may see this class through a DIFFERENT
    // classloader than the tasks (ADD JAR vs session artifacts), so
    // commit() reads the field reflectively instead of casting
    public final String frag; // null = empty task (elided write)

    public FragMessage(String frag) {
      this.frag = frag;
    }
  }

  /** Each task streams its rows to one bridge `write` process, which
   * stages an INVISIBLE native fragment (commit=False; data files
   * first, never a torn fragment).  Job commit makes the whole group
   * visible atomically with ONE bridge `commitfrags` call (.wrt marker
   * for a single fragment, a .con group file for many — the
   * distributed-consolidation crash contract).  A failed/speculative
   * task's staged directory stays invisible forever. */
  static class AggWrite implements Write, BatchWrite {
    private final StructType schema;
    private final Map<String, String> opts;

    AggWrite(StructType schema, CaseInsensitiveStringMap options) {
      this.schema = schema;
      this.opts = new java.util.HashMap<>(options.asCaseSensitiveMap());
    }

    @Override
    public BatchWrite toBatch() {
      return this;
    }

    @Override
    public DataWriterFactory createBatchWriterFactory(PhysicalWriteInfo info) {
      return new AggWriterFactory(schema, opts);
    }

    @Override
    public void commit(WriterCommitMessage[] messages) {
      List<String> frags = new ArrayList<>();
      for (WriterCommitMessage m : messages) {
        if (m == null) {
          continue;
        }
        String f;
        if (m instanceof FragMessage) {
          f = ((FragMessage) m).frag;
        } else {
          // same class via another classloader (ADD JAR): reflect
          try {
            java.lang.reflect.Field fld = m.getClass().getField("frag");
            fld.setAccessible(true);
            f = (String) fld.get(m);
          } catch (Exception e) {
            throw new RuntimeException(
                "tiledb_agg commit: unexpected message " + m.getClass(), e);
          }
        }
        if (f != null) {
          frags.add(f);
        }
      }
      if (frags.isEmpty()) {
        return;
      }
      Bridge b = Bridge.fromOptions(new CaseInsensitiveStringMap(opts));
      try {
        JsonNode n = b.call("commitfrags", "--frags", MAPPER.writeValueAsString(frags));
        if (!n.path("ok").asBoolean(false)) {
          throw new RuntimeException("unexpected reply " + n);
        }
      } catch (Exception e) {
        throw new RuntimeException(
            "tiledb_agg commit failed (staged fragments remain invisible): " + e, e);
      }
    }

    @Override
    public void abort(WriterCommitMessage[] messages) {
      // staged fragments have no commit marker: invisible by contract
    }
  }

  static class AggWriterFactory implements DataWriterFactory {
    private final StructType schema;
    private final Map<String, String> opts;

    AggWriterFactory(StructType schema, Map<String, String> opts) {
      this.schema = schema;
      this.opts = opts;
    }

    @Override
    public DataWriter<InternalRow> createWriter(int partitionId, long taskId) {
      return new AggDataWriter(schema, opts);
    }
  }

  static class AggDataWriter implements DataWriter<InternalRow> {
    private final StructType schema;
    private final Request req;
    private final java.io.BufferedWriter out;
    private final StringBuilder sb = new StringBuilder(256);

    AggDataWriter(StructType schema, Map<String, String> opts) {
      this.schema = schema;
      Bridge b = Bridge.fromOptions(new CaseInsensitiveStringMap(opts));
      this.req = b.open("write");
      // JSON lines, sent as the request's payload frames
      this.out =
          new java.io.BufferedWriter(
              new java.io.OutputStreamWriter(req.payload, StandardCharsets.UTF_8), 1 << 16);
    }

    @Override
    public void write(InternalRow row) throws java.io.IOException {
      sb.setLength(0);
      sb.append('[');
      StructField[] fields = schema.fields();
      for (int i = 0; i < fields.length; i++) {
        if (i > 0) {
          sb.append(',');
        }
        if (row.isNullAt(i)) {
          sb.append("null");
          continue;
        }
        DataType t = fields[i].dataType();
        if (t == DataTypes.LongType) {
          sb.append(row.getLong(i));
        } else if (t == DataTypes.IntegerType) {
          sb.append(row.getInt(i));
        } else if (t == DataTypes.ShortType) {
          sb.append(row.getShort(i));
        } else if (t == DataTypes.ByteType) {
          sb.append(row.getByte(i));
        } else if (t == DataTypes.DoubleType) {
          sb.append(row.getDouble(i));
        } else if (t == DataTypes.FloatType) {
          sb.append(row.getFloat(i));
        } else if (t == DataTypes.BooleanType) {
          sb.append(row.getBoolean(i));
        } else if (t == DataTypes.StringType) {
          appendJsonString(sb, row.getUTF8String(i).toString());
        } else if (t == DataTypes.BinaryType) {
          appendJsonString(
              sb, java.util.Base64.getEncoder().encodeToString(row.getBinary(i)));
        } else {
          throw new java.io.IOException(
              "tiledb_agg write: unsupported column type " + t);
        }
      }
      sb.append(']').append('\n');
      out.write(sb.toString());
    }

    private static void appendJsonString(StringBuilder sb, String s) {
      sb.append('"');
      for (int i = 0; i < s.length(); i++) {
        char c = s.charAt(i);
        if (c == '"' || c == '\\') {
          sb.append('\\').append(c);
        } else if (c < 0x20) {
          sb.append(String.format("\\u%04x", (int) c));
        } else {
          sb.append(c);
        }
      }
      sb.append('"');
    }

    @Override
    public WriterCommitMessage commit() throws java.io.IOException {
      try {
        out.flush(); // the reply read ends the payload: the bridge stages the fragment
        byte[] reply = req.reply.readAllBytes();
        req.finish("write");
        JsonNode n = reply.length == 0 ? null : MAPPER.readTree(reply);
        if (n == null || !n.path("ok").asBoolean(false)) {
          throw new java.io.IOException("tiledb_agg write task failed: reply " + n);
        }
        JsonNode f = n.path("frag");
        return new FragMessage(f.isNull() ? null : f.asText());
      } catch (java.io.IOException e) {
        throw e;
      } catch (Exception e) {
        throw new java.io.IOException("tiledb_agg write task failed: " + e, e);
      }
    }

    @Override
    public void abort() {
      req.close(); // kills the bridge mid-payload: no fragment is staged
    }

    @Override
    public void close() {
      req.close();
    }
  }
}
