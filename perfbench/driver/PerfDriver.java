package perfbench;

import com.fasterxml.jackson.databind.ObjectMapper;
import java.io.File;
import java.lang.management.GarbageCollectorMXBean;
import java.lang.management.ManagementFactory;
import java.nio.file.Files;
import java.nio.file.Path;
import java.nio.file.Paths;
import java.time.Instant;
import java.util.ArrayList;
import java.util.HashMap;
import java.util.LinkedHashMap;
import java.util.List;
import java.util.Map;
import java.util.concurrent.ConcurrentHashMap;
import org.apache.spark.SparkContext;
import org.apache.spark.scheduler.SparkListener;
import org.apache.spark.scheduler.SparkListenerJobEnd;
import org.apache.spark.scheduler.SparkListenerJobStart;
import org.apache.spark.scheduler.SparkListenerStageCompleted;
import org.apache.spark.scheduler.SparkListenerTaskEnd;
import org.apache.spark.scheduler.StageInfo;
import org.apache.spark.scheduler.TaskInfo;
import org.apache.spark.executor.TaskMetrics;
import org.apache.spark.sql.Dataset;
import org.apache.spark.sql.Row;
import org.apache.spark.sql.SparkSession;
import org.apache.spark.sql.execution.QueryExecution;
import org.apache.spark.sql.execution.SparkPlan;
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec;
import org.apache.spark.sql.execution.adaptive.QueryStageExec;
import org.apache.spark.sql.streaming.StreamingQueryListener;
import org.apache.spark.sql.streaming.StreamingQueryProgress;
import scala.Function2;

/**
 * Closed-loop benchmark driver. One client thread runs one query at a time
 * through the program's public entry point ({@code graft.SparkEntry.queries})
 * and times it to its full result through {@code queryExecution().toRdd()}.
 *
 * <p>Reads one JSON job file (written by run.py), writes one JSON result
 * file. The result holds raw observations only: per-sample times and
 * checks, benchmark-thread spans, and, in traced passes, the listener's
 * job/stage/task records. All arithmetic over them lives in arith.py.
 *
 * <p>Usage: {@code java -cp <program classpath>:<driver classes> perfbench.PerfDriver <job.json> <out.json>}
 */
public final class PerfDriver {
  /** Local property naming the phase span that launches a job or a stream. */
  static final String SPAN_KEY = "perfbench.span";

  static final ObjectMapper JSON = new ObjectMapper();
  static final com.sun.management.OperatingSystemMXBean OS =
      (com.sun.management.OperatingSystemMXBean) ManagementFactory.getOperatingSystemMXBean();
  // epoch milliseconds on the benchmark thread, on the same clock as
  // Spark's listener event times
  static final long NANO0 = System.nanoTime();
  static final long EPOCH0 = System.currentTimeMillis();

  static double nowMs() {
    return EPOCH0 + (System.nanoTime() - NANO0) / 1e6;
  }

  /** Micro-batches, from progress events Spark emits anyway; always on. */
  static final class BatchListener extends StreamingQueryListener {
    final Map<String, String> runSpan = new ConcurrentHashMap<>();
    final List<Map<String, Object>> batches = java.util.Collections.synchronizedList(new ArrayList<>());
    final SparkContext sc;

    BatchListener(SparkContext sc) {
      this.sc = sc;
    }

    @Override
    public void onQueryStarted(QueryStartedEvent e) {
      // delivered on the thread that runs the stream, which inherited the
      // launching phase's local properties at start()
      String span = sc.getLocalProperty(SPAN_KEY);
      if (span != null) runSpan.put(e.runId().toString(), span);
    }

    @Override
    public void onQueryProgress(QueryProgressEvent e) {
      StreamingQueryProgress p = e.progress();
      Map<String, Object> b = new LinkedHashMap<>();
      b.put("run_id", p.runId().toString());
      b.put("batch_id", p.batchId());
      b.put("start_ms", (double) Instant.parse(p.timestamp()).toEpochMilli());
      b.put("rows", p.numInputRows());
      Map<String, Object> d = new LinkedHashMap<>();
      for (Map.Entry<String, Long> x : p.durationMs().entrySet()) d.put(x.getKey(), x.getValue());
      b.put("duration_ms", d);
      batches.add(b);
    }

    @Override
    public void onQueryTerminated(QueryTerminatedEvent e) {}
  }

  /** Job, stage and task records for traced passes only. */
  static final class Tracer extends SparkListener {
    final List<Map<String, Object>> jobs = java.util.Collections.synchronizedList(new ArrayList<>());
    final List<Map<String, Object>> stages = java.util.Collections.synchronizedList(new ArrayList<>());
    final Map<String, long[]> taskSums = new ConcurrentHashMap<>();
    static final String[] TASK_FIELDS = {
      "tasks", "run_ms", "cpu_ns", "gc_ms", "sched_delay_ms", "shuffle_write_bytes",
      "shuffle_read_bytes", "fetch_wait_ms", "spill_bytes", "read_bytes", "read_rows",
      "write_bytes", "write_rows"
    };

    @Override
    public void onJobStart(SparkListenerJobStart e) {
      Map<String, Object> j = new LinkedHashMap<>();
      j.put("event", "start");
      j.put("job_id", e.jobId());
      j.put("time_ms", (double) e.time());
      List<Object> ids = new ArrayList<>();
      scala.collection.Iterator<Object> it = e.stageIds().iterator();
      while (it.hasNext()) ids.add(it.next());
      j.put("stage_ids", ids);
      j.put("span", e.properties() == null ? null : e.properties().getProperty(SPAN_KEY));
      jobs.add(j);
    }

    @Override
    public void onJobEnd(SparkListenerJobEnd e) {
      Map<String, Object> j = new LinkedHashMap<>();
      j.put("event", "end");
      j.put("job_id", e.jobId());
      j.put("time_ms", (double) e.time());
      jobs.add(j);
    }

    @Override
    public void onTaskEnd(SparkListenerTaskEnd e) {
      TaskMetrics m = e.taskMetrics();
      TaskInfo i = e.taskInfo();
      if (m == null || i == null) return;
      long getting = i.gettingResultTime() > 0 ? i.finishTime() - i.gettingResultTime() : 0;
      long delay = Math.max(0, i.duration() - m.executorRunTime() - m.executorDeserializeTime()
          - m.resultSerializationTime() - getting);
      long[] v = {
        1, m.executorRunTime(), m.executorCpuTime(), m.jvmGCTime(), delay,
        m.shuffleWriteMetrics().bytesWritten(), m.shuffleReadMetrics().totalBytesRead(),
        m.shuffleReadMetrics().fetchWaitTime(), m.diskBytesSpilled(),
        m.inputMetrics().bytesRead(), m.inputMetrics().recordsRead(),
        m.outputMetrics().bytesWritten(), m.outputMetrics().recordsWritten()
      };
      long[] s = taskSums.computeIfAbsent(e.stageId() + "." + e.stageAttemptId(), k -> new long[v.length]);
      synchronized (s) {
        for (int k = 0; k < v.length; k++) s[k] += v[k];
      }
    }

    @Override
    public void onStageCompleted(SparkListenerStageCompleted e) {
      StageInfo si = e.stageInfo();
      Map<String, Object> s = new LinkedHashMap<>();
      s.put("stage_id", si.stageId());
      s.put("attempt", si.attemptNumber());
      s.put("start_ms", si.submissionTime().isDefined() ? ((Number) si.submissionTime().get()).doubleValue() : null);
      s.put("end_ms", si.completionTime().isDefined() ? ((Number) si.completionTime().get()).doubleValue() : null);
      s.put("num_tasks", si.numTasks());
      s.put("failed", si.failureReason().isDefined());
      stages.add(s);
    }

    /** Stage records with their task sums; call after the bus drained. */
    List<Map<String, Object>> stagesWithTasks() {
      List<Map<String, Object>> out = new ArrayList<>();
      synchronized (stages) {
        for (Map<String, Object> s : stages) {
          Map<String, Object> r = new LinkedHashMap<>(s);
          long[] v = taskSums.get(s.get("stage_id") + "." + s.get("attempt"));
          Map<String, Long> sums = new LinkedHashMap<>();
          for (int k = 0; k < TASK_FIELDS.length; k++) sums.put(TASK_FIELDS[k], v == null ? 0L : v[k]);
          r.put("task_sums", sums);
          out.add(r);
        }
      }
      return out;
    }
  }

  final Map<String, Object> job;
  SparkSession spark;
  SparkContext sc;
  final Map<String, Function2<SparkSession, String, Dataset<Row>>> fns = new HashMap<>();
  BatchListener batchListener;
  final List<Map<String, Object>> spans = new ArrayList<>();
  final long queryTimeoutMs;

  @SuppressWarnings("unchecked")
  PerfDriver(Map<String, Object> job) {
    this.job = job;
    queryTimeoutMs = ((Number) job.get("query_timeout_s")).longValue() * 1000;
    scala.collection.immutable.Map<String, Function2<SparkSession, String, Dataset<Row>>> all =
        graft.SparkEntry.queries();
    for (String q : (List<String>) job.get("queries")) {
      if (!all.contains(q)) throw new IllegalArgumentException("unknown query " + q);
      fns.put(q, all.apply(q));
    }
  }

  /** The closed-loop session: local[cores], one shuffle partition per core. */
  void startSession() {
    int cores = ((Number) job.get("cores")).intValue();
    spark = SparkSession.builder()
        .master("local[" + cores + "]")
        .config("spark.sql.shuffle.partitions", Integer.toString(cores))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", (String) job.get("local_dir"))
        .getOrCreate();
    sc = spark.sparkContext();
    sc.setLogLevel("WARN");
    batchListener = new BatchListener(sc);
    spark.streams().addListener(batchListener);
  }

  /** A fresh path for `dir`, so the program's path-keyed memos start cold. */
  static String alias(String dir, String aliasDir) throws Exception {
    Path a = Paths.get(aliasDir);
    Files.createDirectories(a.getParent());
    Files.createSymbolicLink(a, Paths.get(dir).toAbsolutePath());
    return a.toString();
  }

  double[] gcTotals() {
    double ms = 0, n = 0;
    for (GarbageCollectorMXBean b : ManagementFactory.getGarbageCollectorMXBeans()) {
      ms += Math.max(0, b.getCollectionTime());
      n += Math.max(0, b.getCollectionCount());
    }
    return new double[] {ms, n};
  }

  void span(String id, String parent, String name, String query, int pass, double t0, double t1) {
    Map<String, Object> s = new LinkedHashMap<>();
    s.put("id", id);
    s.put("parent", parent);
    s.put("name", name);
    s.put("query", query);
    s.put("pass", pass);
    s.put("start_ms", t0);
    s.put("end_ms", t1);
    spans.add(s);
  }

  /** Runs `body` under the phase span `id`; returns its [start, end] in ms. */
  double[] phase(String id, ThrowingRunnable body) throws Exception {
    sc.setLocalProperty(SPAN_KEY, id);
    double t0 = nowMs();
    try {
      body.run();
    } finally {
      sc.setLocalProperty(SPAN_KEY, null);
    }
    return new double[] {t0, nowMs()};
  }

  interface ThrowingRunnable {
    void run() throws Exception;
  }

  static void countPlan(SparkPlan p, Map<String, Long> c) {
    if (p instanceof AdaptiveSparkPlanExec) {
      countPlan(((AdaptiveSparkPlanExec) p).executedPlan(), c);
      return;
    }
    if (p instanceof QueryStageExec) {
      countPlan(((QueryStageExec) p).plan(), c);
      return;
    }
    String n = p.getClass().getSimpleName();
    if (n.equals("ShuffleExchangeExec")) c.merge("exchanges", 1L, Long::sum);
    if (n.equals("BroadcastExchangeExec")) c.merge("broadcasts", 1L, Long::sum);
    if (n.equals("SortMergeJoinExec")) c.merge("smj", 1L, Long::sum);
    if (n.equals("WholeStageCodegenExec")) c.merge("codegen_stages", 1L, Long::sum);
    scala.collection.Iterator<SparkPlan> kids = p.children().iterator();
    while (kids.hasNext()) countPlan(kids.next(), c);
    scala.collection.Iterator<SparkPlan> subs = p.subqueries().iterator();
    while (subs.hasNext()) countPlan(subs.next(), c);
  }

  /**
   * One timed sample: build, plan and run to the full result. Returns the
   * sample record; the three phases are spans under the query span.
   */
  Map<String, Object> sample(String q, String dir, int pass, boolean traced) {
    Map<String, Object> r = new LinkedHashMap<>();
    r.put("query", q);
    String base = "p" + pass + "." + q;
    long[] rows = {-1};
    Dataset<Row>[] df = new Dataset[1];
    QueryExecution[] qe = new QueryExecution[1];
    double[] gc0 = gcTotals();
    long[] host0 = procStat();
    long cpu0 = OS.getProcessCpuTime();
    java.util.concurrent.atomic.AtomicBoolean timedOut = new java.util.concurrent.atomic.AtomicBoolean();
    Thread watchdog = new Thread(() -> {
      try {
        Thread.sleep(queryTimeoutMs);
        timedOut.set(true);
        sc.cancelAllJobs();
      } catch (InterruptedException ignored) {
      }
    });
    watchdog.setDaemon(true);
    watchdog.start();
    double t0 = nowMs();
    double[] b = null, p = null, x = null;
    try {
      b = phase(base + ".build", () -> df[0] = fns.get(q).apply(spark, dir));
      p = phase(base + ".plan", () -> {
        qe[0] = df[0].queryExecution();
        qe[0].executedPlan();
      });
      x = phase(base + ".run", () -> rows[0] = qe[0].toRdd().count());
    } catch (Throwable e) {
      String m = String.valueOf(e.getMessage());
      r.put("error", e.getClass().getSimpleName() + ": " + m.substring(0, Math.min(300, m.length())));
    }
    double t1 = nowMs();
    watchdog.interrupt();
    if (timedOut.get()) r.put("timeout", true);
    double[] gc1 = gcTotals();
    long[] host1 = procStat();
    r.put("cpu_s", (OS.getProcessCpuTime() - cpu0) / 1e9);
    r.put("host_jiffies", new long[] {host1[0] - host0[0], host1[1] - host0[1], host1[2] - host0[2]});
    r.put("seconds", (t1 - t0) / 1000.0);
    r.put("rows", rows[0]);
    r.put("gc_ms", gc1[0] - gc0[0]);
    r.put("gc_count", gc1[1] - gc0[1]);
    System.out.printf("[driver] pass %d %s %.3f s rows=%d %s%n", pass, q, (t1 - t0) / 1000.0, rows[0],
        r.getOrDefault("error", ""));
    if (traced) {
      span(base, null, "query", q, pass, t0, t1);
      if (b != null) span(base + ".build", base, "engine.build", q, pass, b[0], b[1]);
      if (p != null) span(base + ".plan", base, "plans.plan", q, pass, p[0], p[1]);
      if (x != null) {
        span(base + ".run", base, "exec.run", q, pass, x[0], x[1]);
        Map<String, Long> c = new LinkedHashMap<>();
        for (String k : new String[] {"exchanges", "broadcasts", "smj", "codegen_stages"}) c.put(k, 0L);
        countPlan(qe[0].executedPlan(), c);
        r.put("plan", c);
      }
    }
    return r;
  }

  /** [total, steal, idle + iowait] jiffies of all CPUs from /proc/stat; zeros where absent. */
  static long[] procStat() {
    try {
      String[] f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim().split("\\s+");
      long total = 0;
      for (int i = 1; i < f.length; i++) total += Long.parseLong(f[i]);
      long idle = Long.parseLong(f[4]) + (f.length > 5 ? Long.parseLong(f[5]) : 0);
      return new long[] {total, f.length > 8 ? Long.parseLong(f[8]) : 0, idle};
    } catch (Exception e) {
      return new long[] {0, 0, 0};
    }
  }

  long heapAfterGc() {
    System.gc();
    return ManagementFactory.getMemoryMXBean().getHeapMemoryUsage().getUsed();
  }

  /**
   * Set-up, then the timed passes. Set-up is session start, one untimed
   * run of every query on the small input, and one untimed pass on the
   * measured input. The small-input run is graft.Verify's dump, which feeds
   * the value differential; Verify stops its session, so the rest runs in a
   * fresh one.
   */
  @SuppressWarnings("unchecked")
  Map<String, Object> run() throws Exception {
    Map<String, Object> out = new LinkedHashMap<>();
    List<String> queries = (List<String>) job.get("queries");
    String scratch = (String) job.get("alias_dir");
    startSession();
    String warmDir = alias((String) job.get("warm_dir"), scratch + "/warm");
    graft.Verify.main(new String[] {warmDir, (String) job.get("verify_out"), String.join(",", queries)});
    startSession();
    // one untimed pass at the measured size: the small input leaves most of
    // the JIT's work on the hot paths of the measured size still to do
    String settleDir = alias((String) job.get("data_dir"), scratch + "/settle");
    List<Map<String, Object>> settle = new ArrayList<>();
    for (String q : queries) settle.add(sample(q, settleDir, -1, false));
    out.put("settle", settle);
    out.put("warm_end_ms", nowMs());
    out.put("warm_end_jiffies", procStat());

    Tracer tracer = new Tracer();
    List<List<String>> orders = (List<List<String>>) job.get("orders");
    // which timed passes are traced: run.py fixes their number and order
    List<Boolean> plan = (List<Boolean>) job.get("traced_passes");
    List<Map<String, Object>> passes = new ArrayList<>();
    for (int k = 0; k < plan.size(); k++) {
      boolean traced = plan.get(k);
      String dir = alias((String) job.get("data_dir"), scratch + "/pass" + k);
      if (traced) {
        sc.listenerBus().waitUntilEmpty();  // earlier passes' events stay out
        sc.addSparkListener(tracer);
      }
      Map<String, Object> pr = new LinkedHashMap<>();
      List<Map<String, Object>> samples = new ArrayList<>();
      List<String> order = orders.get(k % orders.size());
      long[] cpu0 = procStat();
      double p0 = nowMs();
      for (String q : order) {
        long heap = heapAfterGc();  // between queries, outside timing
        Map<String, Object> s = sample(q, dir, k, traced);
        s.put("heap_before_bytes", heap);
        samples.add(s);
      }
      double p1 = nowMs();
      long[] cpu1 = procStat();
      if (traced) {
        sc.listenerBus().waitUntilEmpty();
        sc.removeSparkListener(tracer);
      }
      pr.put("index", k);
      pr.put("traced", traced);
      pr.put("start_ms", p0);
      pr.put("end_ms", p1);
      // host CPU jiffies over the pass: [total, steal]; steal explains noise
      pr.put("host_jiffies", new long[] {cpu1[0] - cpu0[0], cpu1[1] - cpu0[1]});
      pr.put("heap_after_bytes", heapAfterGc());
      pr.put("samples", samples);
      passes.add(pr);
    }
    sc.listenerBus().waitUntilEmpty();
    out.put("passes", passes);
    out.put("batches", new ArrayList<>(batchListener.batches));
    out.put("run_spans", new LinkedHashMap<>(batchListener.runSpan));
    out.put("jobs", new ArrayList<>(tracer.jobs));
    out.put("stages", tracer.stagesWithTasks());
    out.put("spans", spans);
    return out;
  }

  @SuppressWarnings("unchecked")
  public static void main(String[] args) throws Exception {
    Map<String, Object> job = JSON.readValue(new File(args[0]), Map.class);
    PerfDriver d = new PerfDriver(job);
    Map<String, Object> out = d.run();
    out.put("jvm_flags", ManagementFactory.getRuntimeMXBean().getInputArguments());
    out.put("max_heap_bytes", Runtime.getRuntime().maxMemory());
    d.spark.stop();
    JSON.writeValue(new File(args[1]), out);
  }
}
