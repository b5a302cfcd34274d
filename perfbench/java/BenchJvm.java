import java.io.IOException;
import java.nio.charset.StandardCharsets;
import java.nio.file.Files;
import java.nio.file.Path;
import java.nio.file.Paths;
import java.util.ArrayList;
import java.util.HashMap;
import java.util.List;
import java.util.Map;
import java.util.concurrent.ConcurrentHashMap;
import java.util.concurrent.atomic.AtomicInteger;

import org.apache.spark.scheduler.SparkListener;
import org.apache.spark.scheduler.SparkListenerJobStart;
import org.apache.spark.scheduler.SparkListenerStageCompleted;
import org.apache.spark.scheduler.SparkListenerTaskEnd;
import org.apache.spark.executor.TaskMetrics;
import org.apache.spark.sql.Dataset;
import org.apache.spark.sql.Row;
import org.apache.spark.sql.SparkSession;
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan;
import org.apache.spark.sql.execution.QueryExecution;

/**
 * In-process side of the served-path benchmark. Modes:
 *
 * <pre>
 *   oracle  DATA OUT.json              dump SparkEntry.oracleSql for DATA
 *   trace   DATA SERVED OPS OUT.json   one statement at a time through each
 *                                      layer's public entry point, with spans
 *   serve   TRIGGER OUT ARGS...        graft.Serve.main(ARGS), plus a thread
 *                                      that, whenever the file TRIGGER appears,
 *                                      deletes it, collects garbage twice and
 *                                      writes the heap in use (MB) to OUT
 * </pre>
 *
 * SERVED and OPS are UTF-8 text files of items separated by the ASCII record
 * separator (0x1E): DuckDB-dialect statements in SERVED, SparkEntry.queries
 * names in OPS. The session is built the way graft.Serve builds
 * it: local[cpus], GraftExtensions, ANSI on.
 */
public final class BenchJvm {

  // ---- session -----------------------------------------------------------

  static SparkSession session(int cpus) {
    SparkSession spark = SparkSession.builder()
        .master("local[" + cpus + "]")
        .config("spark.sql.shuffle.partitions", String.valueOf(cpus))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.extensions", "graft.engine.GraftExtensions")
        .config("spark.sql.ansi.enabled", "true")
        .getOrCreate();
    spark.sparkContext().setLogLevel("WARN");
    return spark;
  }

  static graft.engine.Gateway gateway(SparkSession spark, String dir) {
    return graft.engine.Gateway$.MODULE$.open(spark, dir, true,
        graft.engine.Gateway$.MODULE$.open$default$4(),
        graft.engine.Gateway$.MODULE$.open$default$5());
  }

  // ---- exec listener: one per JVM, keyed by job group ---------------------

  /** Task/job/stage counters of one statement (its job group). */
  static final class Exec {
    int jobs, stages, tasks;
    long runMs, cpuNs, shuffleBytes, spillBytes, peakMem;
    final List<long[]> taskSpans = new ArrayList<>();

    synchronized void task(long launch, long finish, TaskMetrics m) {
      tasks++;
      taskSpans.add(new long[] {launch, finish});
      if (m == null) return;
      runMs += m.executorRunTime();
      cpuNs += m.executorCpuTime();
      shuffleBytes += m.shuffleReadMetrics().totalBytesRead()
          + m.shuffleWriteMetrics().bytesWritten();
      spillBytes += m.memoryBytesSpilled() + m.diskBytesSpilled();
      peakMem = Math.max(peakMem, m.peakExecutionMemory());
    }

    /** Milliseconds of [from, to] during which no task of the group ran. */
    synchronized long idleMs(long from, long to) {
      List<long[]> spans = new ArrayList<>(taskSpans);
      spans.sort((a, b) -> Long.compare(a[0], b[0]));
      long covered = 0, cur = from;
      for (long[] s : spans) {
        long a = Math.max(s[0], cur), b = Math.min(s[1], to);
        if (b > a) { covered += b - a; cur = b; }
      }
      return Math.max(0, (to - from) - covered);
    }
  }

  static final Map<String, Exec> EXEC = new ConcurrentHashMap<>();
  static final Map<Integer, String> STAGE_GROUP = new ConcurrentHashMap<>();
  /** Group charged for jobs started on threads that carry no job group
   * (gRPC server threads in the flight round trip). The traced replay is
   * sequential, so the statement in flight owns them. */
  static volatile String currentGroup = null;

  static Exec exec(String group) {
    return EXEC.computeIfAbsent(group, g -> new Exec());
  }

  static final class ExecListener extends SparkListener {
    @Override public void onJobStart(SparkListenerJobStart e) {
      String g = e.properties() == null ? null
          : e.properties().getProperty("spark.jobGroup.id");
      if (g == null) g = currentGroup;
      if (g == null) return;
      Exec x = exec(g);
      synchronized (x) { x.jobs++; }
      for (Object id : scala.jdk.javaapi.CollectionConverters.asJava(e.stageIds()))
        STAGE_GROUP.put((Integer) id, g);
    }
    @Override public void onStageCompleted(SparkListenerStageCompleted e) {
      String g = STAGE_GROUP.get(e.stageInfo().stageId());
      if (g == null) return;
      Exec x = exec(g);
      synchronized (x) { x.stages++; }
    }
    @Override public void onTaskEnd(SparkListenerTaskEnd e) {
      String g = STAGE_GROUP.get(e.stageId());
      if (g == null) return;
      exec(g).task(e.taskInfo().launchTime(), e.taskInfo().finishTime(),
          e.taskMetrics());
    }
  }

  // ---- spans ---------------------------------------------------------------

  /** One layer boundary: name, start, end (ns), parent span, statement id. */
  static final class Span {
    final int id, parent; final String name, stmt;
    final long start; long end;
    final Map<String, Double> counts = new HashMap<>();
    Span(int id, int parent, String name, String stmt, long start) {
      this.id = id; this.parent = parent; this.name = name; this.stmt = stmt;
      this.start = start;
    }
  }

  static final List<Span> SPANS = new ArrayList<>();
  static final AtomicInteger NEXT_SPAN = new AtomicInteger(1);

  static final long T0 = System.nanoTime();

  /** A progress line on stderr: seconds since start and the phase reached. */
  static void phase(String what) {
    System.err.printf("[bench-jvm] %.1f s %s%n", (System.nanoTime() - T0) / 1e9, what);
  }

  static Span open(String name, Span parent, String stmt) {
    Span s = new Span(NEXT_SPAN.getAndIncrement(), parent == null ? 0 : parent.id,
        name, stmt, System.nanoTime());
    SPANS.add(s);
    return s;
  }

  static void close(Span s) { s.end = System.nanoTime(); }

  // ---- statements file -----------------------------------------------------

  static List<String> statements(String file) throws IOException {
    List<String> out = new ArrayList<>();
    for (String s : Files.readString(Paths.get(file), StandardCharsets.UTF_8).split("\u001e"))
      if (!s.isEmpty()) out.add(s);
    return out;
  }

  // ---- json ----------------------------------------------------------------

  static String q(String s) {
    if (s == null) return "null";
    StringBuilder b = new StringBuilder("\"");
    for (char c : s.toCharArray()) {
      switch (c) {
        case '"': b.append("\\\""); break;
        case '\\': b.append("\\\\"); break;
        case '\n': b.append("\\n"); break;
        case '\r': b.append("\\r"); break;
        case '\t': b.append("\\t"); break;
        default:
          if (c < 0x20) b.append(String.format("\\u%04x", (int) c));
          else b.append(c);
      }
    }
    return b.append('"').toString();
  }

  static String errorClass(Throwable t) {
    String msg = String.valueOf(t.getMessage());
    int nl = msg.indexOf('\n');
    if (nl >= 0) msg = msg.substring(0, nl);
    if (msg.length() > 160) msg = msg.substring(0, 160);
    return t.getClass().getSimpleName() + ": " + msg;
  }

  static void write(String out, String json) throws IOException {
    Path p = Paths.get(out);
    Path tmp = Paths.get(out + ".tmp");
    Files.write(tmp, json.getBytes(StandardCharsets.UTF_8));
    Files.move(tmp, p, java.nio.file.StandardCopyOption.REPLACE_EXISTING);
  }

  // ---- modes ---------------------------------------------------------------

  static void oracle(String dir, String out) throws IOException {
    SparkSession spark = session(cpus());
    graft.engine.Gateway gw = gateway(spark, dir);
    SparkSession.setActiveSession(gw.session());
    StringBuilder b = new StringBuilder("{");
    Map<String, String> m = scala.jdk.javaapi.CollectionConverters.asJava(
        graft.SparkEntry.oracleSql());
    List<String> names = new ArrayList<>(m.keySet());
    java.util.Collections.sort(names);
    for (String n : names) {
      if (b.length() > 1) b.append(",\n");
      b.append(q(n)).append(": ").append(q(m.get(n)));
    }
    write(out, b.append("}\n").toString());
    spark.stop();
  }

  static int cpus() {
    return Integer.parseInt(System.getenv().getOrDefault("SPARK_GRAFT_CPUS",
        String.valueOf(Runtime.getRuntime().availableProcessors())));
  }

  /** Each statement through each layer's public entry point, one at a time:
   * the served texts first, then the declared DataFrame queries. */
  static void trace(String dir, String servedFile, String opsFile, String out)
      throws Exception {
    List<String> served = statements(servedFile);
    List<String> ops = statements(opsFile);
    SparkSession spark = session(cpus());
    spark.sparkContext().addSparkListener(new ExecListener());
    graft.engine.Gateway gw = gateway(spark, dir);
    SparkSession sess = gw.session();
    graft.flight.FlightServer server = graft.flight.FlightServer$.MODULE$.start(gw, 0);
    graft.flight.FlightClientLite client =
        new graft.flight.FlightClientLite("localhost", server.boundPort());
    scala.collection.immutable.Map<String,
        scala.Function2<SparkSession, String, Dataset<Row>>> qs =
        graft.SparkEntry.queries();
    phase("session and gateway open");
    // a warm pass runs each item once (JIT, codegen, and the per-dataset
    // indexes and memos a declared query makes on first use); the traced pass follows
    for (String text : served)
      try {
        scala.collection.Iterator<byte[]> it =
            org.apache.spark.sql.GraftArrow.stream(gw.sql(text), 10000);
        while (it.hasNext()) it.next();
        client.doGetRaw(text.getBytes(StandardCharsets.UTF_8));
      } catch (Throwable t) { /* reported by the traced pass */ }
    for (String name : ops)
      try { qs.apply(name).apply(spark, dir).write().format("noop").mode("overwrite").save(); }
      catch (Throwable t) { /* reported by the traced pass */ }
    phase("warm pass done");
    List<String> errors = new ArrayList<>();
    for (int i = 0; i < served.size() + ops.size(); i++) {
      boolean op = i >= served.size();
      String text = op ? ops.get(i - served.size()) : served.get(i);
      String id = (op ? "op" : "st") + "-" + i;
      currentGroup = id;
      spark.sparkContext().setJobGroup(id, "trace", true);
      Span root = open("stmt", null, id);
      try {
        if (op) traceOperator(spark, dir, qs, text, root, id);
        else traceServed(sess, gw, client, text, root, id);
      } catch (Throwable t) {
        root.counts.put("failed", 1.0);
        errors.add(q((text.length() > 60 ? text.substring(0, 60) : text)
            + " :: " + errorClass(t)));
      }
      close(root);
      drain(spark);
      Exec x = EXEC.get(id);
      if (x == null) x = new Exec();
      root.counts.put("exec.jobs", (double) x.jobs);
      root.counts.put("exec.stages", (double) x.stages);
      root.counts.put("exec.tasks", (double) x.tasks);
      root.counts.put("exec.run_ms", (double) x.runMs);
      root.counts.put("exec.cpu_ms", x.cpuNs / 1e6);
      root.counts.put("exec.shuffle_mb", x.shuffleBytes / 1e6);
      root.counts.put("exec.spill_mb", x.spillBytes / 1e6);
      root.counts.put("exec.peak_mem_mb", x.peakMem / 1e6);
      // idle over the span that executes the statement once
      Span execSpan = null;
      for (int k = SPANS.size() - 1; k >= 0 && SPANS.get(k).stmt.equals(id); k--)
        if (SPANS.get(k).name.equals("arrow") || SPANS.get(k).name.equals("operators"))
          execSpan = SPANS.get(k);
      if (execSpan != null && execSpan.end > 0) {
        long off = System.currentTimeMillis() * 1_000_000L - System.nanoTime();
        root.counts.put("exec.idle_ms", (double) x.idleMs(
            (execSpan.start + off) / 1_000_000L, (execSpan.end + off) / 1_000_000L));
      }
    }
    currentGroup = null;
    phase("traced pass done");
    StringBuilder b = new StringBuilder("{\"errors\": [" + String.join(",", errors)
        + "], \"spans\": [\n");
    boolean first = true;
    for (Span s : SPANS) {
      if (!first) b.append(",\n");
      first = false;
      b.append("{\"id\": ").append(s.id).append(", \"parent\": ").append(s.parent)
          .append(", \"name\": ").append(q(s.name)).append(", \"stmt\": ").append(q(s.stmt))
          .append(", \"start_ns\": ").append(s.start).append(", \"end_ns\": ").append(s.end)
          .append(", \"counts\": {");
      boolean f2 = true;
      for (Map.Entry<String, Double> e : s.counts.entrySet()) {
        if (!f2) b.append(", ");
        f2 = false;
        b.append(q(e.getKey())).append(": ").append(e.getValue());
      }
      b.append("}}");
    }
    write(out, b.append("]}\n").toString());
    client.close();
    server.stop();
    spark.stop();
  }

  /** dialect, catalyst parse/analyze/plan, gateway + arrow, flight, then
   * gateway + arrow again. Only the first direct execution carries the
   * statement's job group, so the exec counters describe one execution.
   * The flight round trip executes the statement inside the server; its own
   * cost is estimated against the direct execution that follows it, because
   * a statement repeated back to back runs faster than one that follows
   * other statements, as the first direct execution does. */
  static void traceServed(SparkSession sess, graft.engine.Gateway gw,
      graft.flight.FlightClientLite client, String text, Span root, String id) {
    Span s = open("dialect", root, id);
    graft.engine.Dialect.rewrite(text);
    close(s);

    // the plain Spark route for the same text; a statement the gateway
    // handles before Spark's parser (PIVOT, SET VARIABLE, ...) may fail
    // here, which is recorded and does not stop the other layers
    try {
      s = open("catalyst.parse", root, id);
      LogicalPlan plan = sess.sessionState().sqlParser().parsePlan(text);
      close(s);
      s = open("catalyst.analyze", root, id);
      QueryExecution qe = sess.sessionState().executePlan(plan,
          sess.sessionState().executePlan$default$2());
      qe.assertAnalyzed();
      close(s);
      s = open("catalyst.plan", root, id);
      qe.executedPlan();
      close(s);
    } catch (Throwable t) {
      close(s);
      s.counts.put("failed", 1.0);
    }

    direct(sess, gw, text, root, id, "");
    String other = id + "/again";
    currentGroup = other;
    sess.sparkContext().setJobGroup(other, "trace", true);
    s = open("flight", root, id);
    scala.collection.immutable.Vector<graft.flight.FlightProto.FlightData> msgs =
        client.doGetRaw(text.getBytes(StandardCharsets.UTF_8));
    long wire = 0;
    scala.collection.Iterator<graft.flight.FlightProto.FlightData> mi = msgs.iterator();
    while (mi.hasNext()) {
      graft.flight.FlightProto.FlightData d = mi.next();
      wire += d.dataHeader().length + d.dataBody().length;
    }
    s.counts.put("flight.wire_mb", wire / 1e6);
    close(s);
    direct(sess, gw, text, root, id, "2");
  }

  /** Gateway.sql, then GraftArrow.stream drained: spans gateway{tag}, arrow{tag}. */
  static void direct(SparkSession sess, graft.engine.Gateway gw, String text, Span root,
      String id, String tag) {
    drain(sess);
    int jobs0 = jobsOf(id);
    Span s = open("gateway" + tag, root, id);
    Dataset<Row> df = gw.sql(text);
    close(s);
    drain(sess);
    s.counts.put("gateway.eager_jobs", (double) (jobsOf(id) - jobs0));

    s = open("arrow" + tag, root, id);
    scala.collection.Iterator<byte[]> it =
        org.apache.spark.sql.GraftArrow.stream(df, 10000);
    long bytes = 0, batches = 0, firstNs = -1;
    boolean schema = true;
    while (it.hasNext()) {
      byte[] chunk = it.next();
      bytes += chunk.length;
      if (schema) { schema = false; continue; }
      if (chunk.length > 8) {
        batches++;
        if (firstNs < 0) firstNs = System.nanoTime() - s.start;
      }
    }
    s.counts.put("arrow.batches", (double) batches);
    s.counts.put("arrow.mb", bytes / 1e6);
    s.counts.put("arrow.first_batch_ms",
        (firstNs < 0 ? System.nanoTime() - s.start : firstNs) / 1e6);
    close(s);
  }

  /** Deliver every queued listener event, so the counters are complete. */
  static void drain(SparkSession spark) {
    try {
      spark.sparkContext().listenerBus().waitUntilEmpty();
    } catch (java.util.concurrent.TimeoutException e) {
      throw new IllegalStateException("listener bus did not drain", e);
    }
  }

  static int jobsOf(String group) {
    Exec x = EXEC.get(group);
    if (x == null) return 0;
    synchronized (x) { return x.jobs; }
  }

  static void traceOperator(SparkSession spark, String dir,
      scala.collection.immutable.Map<String,
          scala.Function2<SparkSession, String, Dataset<Row>>> qs,
      String name, Span root, String id) {
    Span s = open("operators", root, id);
    try {
      qs.apply(name).apply(spark, dir).write().format("noop").mode("overwrite").save();
    } finally {
      close(s);
    }
  }

  /** graft.Serve with a retained-heap probe on the side. */
  static void serve(String trigger, String out, String[] serveArgs) {
    Thread probe = new Thread(() -> {
      java.lang.management.MemoryMXBean mem =
          java.lang.management.ManagementFactory.getMemoryMXBean();
      Path t = Paths.get(trigger);
      while (true) {
        try {
          Thread.sleep(50);
          if (Files.deleteIfExists(t)) {
            // the second collection follows Spark's ContextCleaner, which
            // drops broadcast and shuffle blocks once the first one has
            // cleared their owners
            System.gc();
            Thread.sleep(1000);
            System.gc();
            write(out, String.valueOf(mem.getHeapMemoryUsage().getUsed() / 1e6));
          }
        } catch (Exception e) {
          return;
        }
      }
    }, "bench-heap-probe");
    probe.setDaemon(true);
    probe.start();
    graft.Serve.main(serveArgs);
  }

  public static void main(String[] args) throws Exception {
    switch (args[0]) {
      case "serve":
        serve(args[1], args[2], java.util.Arrays.copyOfRange(args, 3, args.length));
        break;
      case "oracle": oracle(args[1], args[2]); break;
      case "trace": trace(args[1], args[2], args[3], args[4]); break;
      default: throw new IllegalArgumentException("unknown mode " + args[0]);
    }
    System.exit(0);
  }
}
