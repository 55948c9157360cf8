package org.dss.direct;

import java.nio.ByteBuffer;
import java.nio.charset.StandardCharsets;
import java.util.ArrayList;
import java.util.IdentityHashMap;
import java.util.List;
import java.util.Map;
import java.util.concurrent.atomic.AtomicLong;

import org.apache.spark.Dependency;
import org.apache.spark.Partition;
import org.apache.spark.ShuffleDependency;
import org.apache.spark.SparkContext;
import org.apache.spark.SparkEnv;
import org.apache.spark.TaskContext$;
import org.apache.spark.TaskContextImpl;
import org.apache.spark.api.python.PythonRDD;
import org.apache.spark.api.python.PythonRDD$;
import org.apache.spark.executor.TaskMetrics$;
import org.apache.spark.memory.MemoryManager;
import org.apache.spark.memory.MemoryMode;
import org.apache.spark.memory.TaskMemoryManager;
import org.apache.spark.rdd.RDD;
import org.apache.spark.resource.ResourceInformation;
import org.apache.spark.sql.catalyst.InternalRow;
import org.apache.spark.sql.classic.Dataset;
import org.apache.spark.sql.classic.SparkSession;
import org.apache.spark.sql.execution.SQLExecution$;
import org.apache.spark.sql.execution.SparkPlan;
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec;
import org.apache.spark.sql.execution.arrow.ArrowConverters$;
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike;
import org.apache.spark.serializer.SerializerInstance;
import org.apache.spark.sql.internal.SQLConf;
import org.apache.spark.storage.BlockManager;
import org.apache.spark.util.AccumulatorContext;
import org.apache.spark.util.AccumulatorV2;
import org.apache.spark.util.Utils$;
import scala.Option;
import scala.collection.Iterator;
import scala.reflect.ClassTag;
import scala.reflect.ClassTag$;

/**
 * Runs a single-partition physical plan on the calling thread, without a
 * Spark job: the reference's "without RDDs, without the DAG scheduler"
 * execution (DirectPlan.scala:79-83), on top of Spark's own RDD iterator.
 *
 * {@link #fetch} executes the plan (a broadcast build or a scalar subquery
 * inside {@code execute()} still runs its own job), drains the one
 * partition under a private task context and returns the result as Arrow
 * IPC streams, one per batch: inline when they are small, else served on a
 * local socket, as {@code toArrow()} serves them.
 * Like a task, the drain runs a deserialized copy of the final RDD: an
 * operator keeps per-execution state in its plan node (SortExec's sorter),
 * which would make the shared plan unserializable for a later job and
 * would be shared by two concurrent drains.  The copy's SQL metrics are
 * merged into the plan's own on success, as the scheduler merges a task's.
 * Call it through an instance loaded from the session's jar class loader:
 * py4j resolves instance methods on any thread, and a runtime error reaches
 * the caller as the exception the plan raised.
 */
public final class DirectExec {
  /**
   * Task attempt ids of direct drains: negative, so they never meet a
   * scheduled task's, and below BlockInfoManager's NON_TASK_WRITER (-1024).
   */
  private static final AtomicLong TASK_ATTEMPT_IDS = new AtomicLong(-(1L << 20));

  /** Results whose Arrow frames total at most this many bytes return inline. */
  static final int INLINE_BYTES = 64 << 10;

  /** Bits of the flags byte that leads every payload {@link #fetch} returns. */
  static final int LAUNCHED_JOBS = 1;
  static final int LARGE_VAR_TYPES = 2;
  static final int ON_SOCKET = 4;

  /**
   * Fetches the result of {@code ds} in one py4j round trip; null when the
   * plan is not eligible and must run as a job: its physical plan has a
   * shuffle exchange or a Python-evaluation node, or its final RDD has more
   * than one partition, a shuffle dependency or a Python RDD in its lineage.
   * Every job the call launches (a broadcast build) carries {@code tag},
   * which is added on the calling thread and removed before it returns.
   *
   * <p>The payload is a flags byte ({@link #LAUNCHED_JOBS}: a job was
   * submitted during the call; {@link #LARGE_VAR_TYPES}: the session's
   * {@code arrowUseLargeVarTypes}), then the Arrow IPC streams, one per
   * batch, each framed as a 4-byte big-endian length and the stream, and
   * an empty frame that marks the end, so a truncated payload is detected.
   * When the streams total more than {@link #INLINE_BYTES}, they are
   * served on a local socket, as {@code toArrow()} serves them, in the same
   * framing, and the payload is the flags byte with {@link #ON_SOCKET} set,
   * then {@code "<port> <secret>"}.
   */
  public byte[] fetch(Dataset<?> ds, String tag) {
    SparkSession session = ds.sparkSession();
    SparkContext sc = session.sparkContext();
    sc.addJobTag(tag);
    try {
      SparkPlan plan = ds.queryExecution().executedPlan();
      if (!eligible(plan)) {
        return null;
      }
      int firstJobId = sc.dagScheduler().nextJobId().get();
      List<byte[]> frames = SQLExecution$.MODULE$.withSQLConfPropagated(
          session, () -> session.withActive(() -> drain(session, plan, ds)));
      if (frames == null) {
        return null;
      }
      int flags = (sc.dagScheduler().nextJobId().get() != firstJobId ? LAUNCHED_JOBS : 0)
          | (session.sessionState().conf().arrowUseLargeVarTypes() ? LARGE_VAR_TYPES : 0);
      long size = 0;
      for (byte[] frame : frames) {
        size += frame.length;
      }
      frames.add(new byte[0]);
      return size <= INLINE_BYTES ? inline(flags, frames) : serve(flags, frames);
    } finally {
      sc.removeJobTag(tag);
    }
  }

  /** The flags byte, then every frame with its length. */
  private static byte[] inline(int flags, List<byte[]> frames) {
    int size = 1;
    for (byte[] frame : frames) {
      size += 4 + frame.length;
    }
    ByteBuffer out = ByteBuffer.allocate(size);  // big-endian
    out.put((byte) flags);
    for (byte[] frame : frames) {
      out.putInt(frame.length).put(frame);
    }
    return out.array();
  }

  /** Serves the frames on a local socket; the flags byte, then where. */
  private static byte[] serve(int flags, List<byte[]> frames) {
    @SuppressWarnings("unchecked")
    Iterator<Object> items = (Iterator<Object>) (Iterator<?>)
        scala.jdk.javaapi.CollectionConverters.asScala(frames.iterator());
    Object[] served = PythonRDD$.MODULE$.serveIterator(items, "serve-direct-Arrow");
    byte[] where = (served[0] + " " + served[1]).getBytes(StandardCharsets.UTF_8);
    return ByteBuffer.allocate(1 + where.length).put((byte) (flags | ON_SOCKET)).put(where).array();
  }

  /** No shuffle exchange and no Python-evaluation node in the plan. */
  static boolean eligible(SparkPlan plan) {
    if (plan instanceof AdaptiveSparkPlanExec) {
      plan = ((AdaptiveSparkPlanExec) plan).inputPlan();
    }
    if (plan instanceof ShuffleExchangeLike
        || plan.getClass().getName().startsWith("org.apache.spark.sql.execution.python.")) {
      return false;
    }
    Iterator<SparkPlan> children = plan.children().iterator();
    while (children.hasNext()) {
      if (!eligible(children.next())) {
        return false;
      }
    }
    return true;
  }

  /** Every RDD the final one reads is computed in this JVM, without a shuffle. */
  static boolean narrowJvmLineage(RDD<?> rdd, Map<RDD<?>, Boolean> seen) {
    if (seen.put(rdd, Boolean.TRUE) != null) {
      return true;
    }
    if (rdd instanceof PythonRDD) {
      return false;
    }
    Iterator<Dependency<?>> deps = rdd.dependencies().iterator();
    while (deps.hasNext()) {
      Dependency<?> dep = deps.next();
      if (dep instanceof ShuffleDependency || !narrowJvmLineage(dep.rdd(), seen)) {
        return false;
      }
    }
    return true;
  }

  /** Merges the task copy's accumulators into the driver's originals. */
  @SuppressWarnings({"unchecked", "rawtypes"})
  private static void mergeMetrics(TaskContextImpl ctx) {
    Iterator<AccumulatorV2<?, ?>> copies = ctx.taskMetrics().accumulators().iterator();
    while (copies.hasNext()) {
      AccumulatorV2 copy = copies.next();
      Option<AccumulatorV2<?, ?>> original = AccumulatorContext.get(copy.id());
      if (original.isDefined() && original.get() != copy) {
        ((AccumulatorV2) original.get()).merge(copy);
      }
    }
  }

  /**
   * Executes the plan and drains its one partition through the Arrow
   * converter under a private task context, which is released whatever
   * happens; null when the final RDD is not eligible.
   */
  private static List<byte[]> drain(SparkSession session, SparkPlan plan, Dataset<?> ds) {
    plan.resetMetrics();  // as Dataset.withAction does before every action
    RDD<InternalRow> rdd = plan.execute();
    Partition[] partitions = rdd.partitions();
    if (partitions.length != 1 || !narrowJvmLineage(rdd, new IdentityHashMap<>())) {
      return null;
    }
    SQLConf conf = session.sessionState().conf();
    SparkEnv env = SparkEnv.get();
    SerializerInstance serializer = env.closureSerializer().newInstance();
    ClassTag<RDD<InternalRow>> rddTag = ClassTag$.MODULE$.apply(RDD.class);
    ByteBuffer taskBinary = serializer.serialize(rdd, rddTag);
    BlockManager blocks = env.blockManager();
    MemoryManager memoryManager = env.memoryManager();
    long attemptId = TASK_ATTEMPT_IDS.getAndDecrement();
    TaskMemoryManager taskMemory = new TaskMemoryManager(memoryManager, attemptId);
    TaskContextImpl ctx = new TaskContextImpl(
        0, 0, partitions[0].index(), attemptId, 0, 1, taskMemory,
        Utils$.MODULE$.cloneProperties(session.sparkContext().getLocalProperties()),
        env.metricsSystem(), TaskMetrics$.MODULE$.empty(), 1,
        scala.collection.immutable.Map$.MODULE$.<String, ResourceInformation>empty());
    blocks.registerTask(attemptId);
    TaskContext$.MODULE$.setTaskContext(ctx);
    Throwable failure = null;
    try {
      // deserialized under the context, so its metrics register with it
      RDD<InternalRow> task = serializer.deserialize(
          taskBinary, session.sharedState().jarClassLoader(), rddTag);
      Iterator<byte[]> arrow = ArrowConverters$.MODULE$.toBatchWithSchemaIterator(
          task.iterator(partitions[0], ctx), ds.schema(),
          conf.arrowMaxRecordsPerBatch(), conf.arrowMaxBytesPerBatch(),
          conf.sessionLocalTimeZone(), "legacy".equals(conf.pandasStructHandlingMode()),
          conf.arrowUseLargeVarTypes());
      List<byte[]> out = new ArrayList<>();
      while (arrow.hasNext()) {
        out.add(arrow.next());
      }
      mergeMetrics(ctx);
      return out;
    } catch (Throwable t) {
      failure = t;
      try {
        ctx.markTaskFailed(t);
      } catch (Throwable listenerError) {
        t.addSuppressed(listenerError);
      }
      throw t;
    } finally {
      try {
        ctx.markTaskCompleted(Option.apply(failure));
      } catch (Throwable listenerError) {
        if (failure == null) {
          throw listenerError;
        }
        failure.addSuppressed(listenerError);
      } finally {
        try {
          blocks.memoryStore().releaseUnrollMemoryForThisTask(MemoryMode.ON_HEAP, Long.MAX_VALUE);
          blocks.memoryStore().releaseUnrollMemoryForThisTask(MemoryMode.OFF_HEAP, Long.MAX_VALUE);
        } finally {
          TaskContext$.MODULE$.unset();
          blocks.releaseAllLocksForTask(attemptId);
          taskMemory.cleanUpAllAllocatedMemory();
          synchronized (memoryManager) {
            memoryManager.notifyAll();  // wake tasks waiting for execution memory
          }
        }
      }
    }
  }
}
