package graft

import scala.reflect.ClassTag

import org.apache.spark.SparkException

object TaskFailure {

  /** Runs Spark actions and rethrows an `E` that failed one of their
    * tasks as itself, not wrapped in the job abort. */
  def rethrow[E <: Throwable, T](action: => T)(implicit cause: ClassTag[E]): T =
    try action
    catch {
      case e: SparkException =>
        Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .collectFirst { case c: E => c }
          .foreach(c => throw c)
        throw e
    }
}
