package org.dss.direct;

import java.io.ByteArrayOutputStream;
import java.io.IOException;
import java.io.UncheckedIOException;
import java.nio.ByteBuffer;
import java.nio.channels.Channels;
import java.nio.charset.StandardCharsets;
import java.util.ArrayList;
import java.util.Arrays;
import java.util.IdentityHashMap;
import java.util.List;
import java.util.Map;
import java.util.concurrent.atomic.AtomicLong;

import org.apache.arrow.vector.ipc.WriteChannel;
import org.apache.arrow.vector.ipc.message.MessageSerializer;
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
import org.apache.spark.sql.execution.CollectLimitExec;
import org.apache.spark.sql.execution.CollectTailExec;
import org.apache.spark.sql.execution.CommandResultExec;
import org.apache.spark.sql.execution.LocalTableScanExec;
import org.apache.spark.sql.execution.SQLExecution$;
import org.apache.spark.sql.execution.SparkPlan;
import org.apache.spark.sql.execution.TakeOrderedAndProjectExec;
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec;
import org.apache.spark.sql.execution.arrow.ArrowConverters$;
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike;
import org.apache.spark.serializer.SerializerInstance;
import org.apache.spark.sql.internal.SQLConf;
import org.apache.spark.sql.types.StructType;
import org.apache.spark.sql.util.ArrowUtils$;
import org.apache.spark.storage.BlockManager;
import org.apache.spark.util.AccumulatorContext;
import org.apache.spark.util.AccumulatorV2;
import org.apache.spark.util.Utils$;
import scala.Option;
import scala.collection.Iterator;
import scala.jdk.javaapi.CollectionConverters;
import scala.reflect.ClassTag;
import scala.reflect.ClassTag$;

/**
 * Fetches the result of a facade call as Arrow, in one py4j round trip;
 * a single-partition physical plan runs on the calling thread, without a
 * Spark job: the reference's "without RDDs, without the DAG scheduler"
 * execution (DirectPlan.scala:79-83), on top of Spark's own RDD iterator.
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
  static final int DIRECT = 8;

  /**
   * Fetches the result of {@code ds}.  With {@code direct} set, a plan with
   * no shuffle exchange and no Python-evaluation node, whose final RDD has
   * one partition and no shuffle dependency or Python RDD in its lineage,
   * is drained on the calling thread; any other runs under a new SQL
   * execution id ({@link #collect}).  Every job the call launches (a
   * broadcast build) carries {@code tag}, added on the calling thread and
   * removed before it returns.
   *
   * <p>The payload is a flags byte ({@link #LAUNCHED_JOBS}: a job was
   * submitted during the call; {@link #LARGE_VAR_TYPES}: the session's
   * {@code arrowUseLargeVarTypes}; {@link #DIRECT}: drained), then the Arrow
   * IPC schema message, one record-batch message per batch and an empty
   * end frame, each framed as a 4-byte big-endian
   * length and the bytes, so a truncated payload is detected.  A struct
   * that repeats a field name is encoded with de-duplicated names
   * ({@code a_0}, {@code a_1}).  Frames over {@link #INLINE_BYTES} in total
   * are served on a local socket instead, as {@code toArrow()} serves them,
   * and the payload is the flags byte with {@link #ON_SOCKET} set, then
   * {@code "<port> <secret>"}.
   */
  public byte[] fetch(Dataset<?> ds, String tag, boolean direct) {
    SparkSession session = ds.sparkSession();
    SparkContext sc = session.sparkContext();
    sc.addJobTag(tag);
    try {
      SparkPlan plan = ds.queryExecution().executedPlan();
      SQLConf conf = session.sessionState().conf();
      int firstJobId = sc.dagScheduler().nextJobId().get();
      List<byte[]> batches = direct && eligible(plan)
          ? SQLExecution$.MODULE$.withSQLConfPropagated(
              session, () -> session.withActive(() -> drain(session, conf, plan, ds)))
          : null;
      int flags = batches == null ? 0 : DIRECT;
      if (batches == null) {
        batches = SQLExecution$.MODULE$.withNewExecutionId(
            ds.queryExecution(), Option.apply("collectAsArrowToPython"),
            () -> collect(conf, plan, ds));
      }
      flags |= (sc.dagScheduler().nextJobId().get() != firstJobId ? LAUNCHED_JOBS : 0)
          | (conf.arrowUseLargeVarTypes() ? LARGE_VAR_TYPES : 0);
      List<byte[]> frames = new ArrayList<>(batches.size() + 2);
      frames.add(schemaMessage(ds.schema(), conf));
      frames.addAll(batches);
      frames.add(new byte[0]);
      return payload(flags, frames);
    } finally {
      sc.removeJobTag(tag);
    }
  }

  /**
   * The flags byte, then every frame with its length; served on a local
   * socket instead when the frames total more than {@link #INLINE_BYTES}.
   */
  private static byte[] payload(int flags, List<byte[]> frames) {
    long size = 0;
    for (byte[] frame : frames) {
      size += frame.length;
    }
    if (size > INLINE_BYTES) {
      return serve(flags, frames);
    }
    ByteBuffer out = ByteBuffer.allocate(1 + 4 * frames.size() + (int) size);  // big-endian
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
        CollectionConverters.asScala(frames.iterator());
    Object[] served = PythonRDD$.MODULE$.serveIterator(items, "serve-direct-Arrow");
    byte[] where = (served[0] + " " + served[1]).getBytes(StandardCharsets.UTF_8);
    return ByteBuffer.allocate(1 + where.length).put((byte) (flags | ON_SOCKET)).put(where).array();
  }

  /** The Arrow IPC message of {@code schema}, as the batches encode it. */
  private static byte[] schemaMessage(StructType schema, SQLConf conf) {
    ByteArrayOutputStream out = new ByteArrayOutputStream();
    try {
      MessageSerializer.serialize(new WriteChannel(Channels.newChannel(out)),
          ArrowUtils$.MODULE$.toArrowSchema(
              schema, conf.sessionLocalTimeZone(), false, conf.arrowUseLargeVarTypes()));
    } catch (IOException e) {
      throw new UncheckedIOException(e);
    }
    return out.toByteArray();
  }

  /** {@code rows} as Arrow record-batch messages, encoded on this thread. */
  private static List<byte[]> toArrow(
      Iterator<InternalRow> rows, StructType schema, SQLConf conf, TaskContextImpl ctx) {
    Iterator<byte[]> batches = ArrowConverters$.MODULE$.toBatchIterator(
        rows, schema, conf.arrowMaxRecordsPerBatch(), conf.sessionLocalTimeZone(),
        false, conf.arrowUseLargeVarTypes(), ctx);
    List<byte[]> out = new ArrayList<>();
    while (batches.hasNext()) {
      out.add(batches.next());
    }
    return out;
  }

  /** An adaptive plan's input plan, else {@code plan}. */
  private static SparkPlan unwrap(SparkPlan plan) {
    return plan instanceof AdaptiveSparkPlanExec ? ((AdaptiveSparkPlanExec) plan).inputPlan() : plan;
  }

  /**
   * A root whose {@code executeCollect} Spark specializes, also inside an
   * adaptive plan: a command's rows are on the driver, a limit or top-k
   * takes from the partitions without a shuffle, a local scan runs no job.
   */
  static boolean collectsOnDriver(SparkPlan root) {
    SparkPlan plan = unwrap(root);
    return plan instanceof CollectLimitExec || plan instanceof TakeOrderedAndProjectExec
        || plan instanceof CollectTailExec || plan instanceof CommandResultExec
        || plan instanceof LocalTableScanExec;
  }

  /**
   * Whether a struct in {@code schema} repeats a field name, which the Arrow
   * batch job refuses under the default {@code structHandlingMode}.
   */
  static boolean repeatsFieldName(StructType schema) {
    return schema.existsRecursively(t -> t instanceof StructType
        && Arrays.stream(((StructType) t).fieldNames()).distinct().count()
            < ((StructType) t).fields().length);
  }

  /**
   * Runs the plan as Spark's collect actions do, as Arrow batches: with
   * {@code executeCollect} where Spark specializes it or a struct repeats a
   * field name, else as the per-partition Arrow job of {@code toArrow()}
   * (the jar is not on the executors' class path: no closure of its own).
   */
  private static List<byte[]> collect(SQLConf conf, SparkPlan plan, Dataset<?> ds) {
    plan.resetMetrics();  // as Dataset.withAction does before every action
    if (collectsOnDriver(plan) || repeatsFieldName(ds.schema())) {
      Iterator<InternalRow> rows =
          CollectionConverters.asScala(Arrays.asList(plan.executeCollect()).iterator());
      return toArrow(rows, ds.schema(), conf, null);
    }
    return Arrays.asList((byte[][]) ds.toArrowBatchRdd(plan).collect());
  }

  /** No shuffle exchange and no Python-evaluation node in the plan. */
  static boolean eligible(SparkPlan node) {
    SparkPlan plan = unwrap(node);
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
   * Executes the plan and drains its one partition into Arrow batches
   * under a private task context, which is released whatever happens;
   * null when the final RDD is not eligible.
   */
  private static List<byte[]> drain(
      SparkSession session, SQLConf conf, SparkPlan plan, Dataset<?> ds) {
    plan.resetMetrics();  // as Dataset.withAction does before every action
    RDD<InternalRow> rdd = plan.execute();
    Partition[] partitions = rdd.partitions();
    if (partitions.length != 1 || !narrowJvmLineage(rdd, new IdentityHashMap<>())) {
      return null;
    }
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
      List<byte[]> out = toArrow(task.iterator(partitions[0], ctx), ds.schema(), conf, ctx);
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
