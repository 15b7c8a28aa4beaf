package graft.mr

import scala.collection.mutable.ArrayBuffer

/** The reference's literal client shape (SURVEY.md §2.1 R1/R2/R6/R7):
  * `map(k1, v1, ctx)` calls `emit2(k2, v2, ctx)` zero or more times;
  * `reduce(group, ctx)` calls `emit3(k3, v3, ctx)` zero or more times.
  * Here the context is the emit callback itself — the closest
  * first-class-function rendering of the course API.
  *
  * [[EmitClient.adapt]] bridges to the iterator-style
  * [[MapReduceClient]] the kernel executes, so emit-style clients run
  * through exactly the same `flatMap → group by key → flatMapGroups`
  * plan.
  */
trait EmitClient[K1, V1, K2, V2, K3, V3] extends Serializable {
  def map(k1: K1, v1: V1, emit2: (K2, V2) => Unit): Unit
  def reduce(k2: K2, values: Iterator[V2], emit3: (K3, V3) => Unit): Unit
}

object EmitClient {

  def adapt[K1, V1, K2, V2, K3, V3](
      c: EmitClient[K1, V1, K2, V2, K3, V3]): MapReduceClient[K1, V1, K2, V2, K3, V3] =
    new MapReduceClient[K1, V1, K2, V2, K3, V3] {
      override def map(k1: K1, v1: V1): IterableOnce[(K2, V2)] = {
        val buf = new ArrayBuffer[(K2, V2)]()
        c.map(k1, v1, (k, v) => { buf += ((k, v)); () })
        buf
      }
      override def reduce(k2: K2, vs: Iterator[V2]): IterableOnce[(K3, V3)] = {
        val buf = new ArrayBuffer[(K3, V3)]()
        c.reduce(k2, vs, (k, v) => { buf += ((k, v)); () })
        buf
      }
    }
}
