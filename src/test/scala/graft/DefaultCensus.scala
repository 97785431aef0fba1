package graft

import java.io.File
import java.nio.file.Files

import scala.collection.mutable

import org.apache.xbean.asm9.{ClassReader, ClassVisitor, Handle, Label, MethodVisitor, Opcodes, Type}

/** Census of Scala default arguments in compiled classes. A slot is one
  * defaulted parameter: the `m$default$N` getter scalac emits beside `m`
  * (a case class's `apply$default$N` and `<init>$default$N` count as one
  * slot of its constructor). For each slot it counts the call sites of `m`
  * and how many of them invoke the getter, i.e. take the default.
  *
  * Static and mixin forwarders, case-class `copy`, the synthetic
  * case-class `apply` and bridges are not call sites: scalac writes them,
  * no caller chooses their arguments.
  */
object DefaultCensus {

  /** `owner.method` parameter `index` (1-based) named `param`: `calls`
    * call sites, `taken` of them without the argument. */
  final case class Slot(owner: String, method: String, index: Int, param: String,
                        calls: Int, taken: Int) {
    /** `module.method#index(param)`, e.g. `pipeline.HttpSource.withRetry#3(sleep)`. */
    def id: String = s"${owner.stripPrefix("graft.").stripSuffix("$")}.$method#$index($param)"
    def label: String = s"$id calls=$calls taken=$taken"
  }

  private final case class Ref(owner: String, name: String)

  private final class MethodInfo(val owner: String, val name: String, val desc: String,
                                 val access: Int) {
    val calls = mutable.ArrayBuffer.empty[Ref]
    val locals = mutable.Map.empty[Int, String]
    def isStatic: Boolean = (access & Opcodes.ACC_STATIC) != 0
  }

  private val Getter = """(.*)\$default\$(\d+)((?:\$\d+)?)""".r

  /** Every `.class` file under `dirs`, parsed into its methods, with each
    * class's superclass and interfaces. */
  private def scan(dirs: Seq[File]): (Map[String, Seq[MethodInfo]], Map[String, Seq[String]]) = {
    val methods = mutable.Map.empty[String, mutable.ArrayBuffer[MethodInfo]]
    val supers = mutable.Map.empty[String, Seq[String]]
    for (dir <- dirs; f <- walk(dir) if f.getName.endsWith(".class")) {
      val reader = new ClassReader(Files.readAllBytes(f.toPath))
      reader.accept(new ClassVisitor(Opcodes.ASM9) {
        private var cls = ""
        override def visit(version: Int, access: Int, name: String, sig: String,
                           superName: String, ifaces: Array[String]): Unit = {
          cls = name.replace('/', '.')
          supers(cls) = (Option(superName).toSeq ++ ifaces).map(_.replace('/', '.'))
        }
        override def visitMethod(access: Int, name: String, desc: String, sig: String,
                                 exc: Array[String]): MethodVisitor = {
          val m = new MethodInfo(cls, name, desc, access)
          methods.getOrElseUpdate(cls, mutable.ArrayBuffer.empty) += m
          new MethodVisitor(Opcodes.ASM9) {
            override def visitMethodInsn(op: Int, owner: String, n: String, d: String,
                                         itf: Boolean): Unit =
              m.calls += Ref(owner.replace('/', '.'), n)
            override def visitInvokeDynamicInsn(n: String, d: String, bsm: Handle,
                                                args: Object*): Unit =
              args.foreach {
                case h: Handle => m.calls += Ref(h.getOwner.replace('/', '.'), h.getName)
                case _ => ()
              }
            override def visitLocalVariable(n: String, d: String, s: String, start: Label,
                                            end: Label, index: Int): Unit =
              m.locals.getOrElseUpdate(index, n)
          }
        }
      }, ClassReader.SKIP_FRAMES)
    }
    (methods.map { case (k, v) => k -> v.toSeq }.toMap, supers.toMap)
  }

  private def walk(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)

  /** Code scalac writes around a method rather than a caller's choice: a
    * static forwarder of a module method, a trait mixin forwarder, a
    * case-class `copy`, the synthetic case-class `apply` and a bridge
    * (a companion's `Function` `apply`). */
  private def generated(m: MethodInfo, caseClasses: Set[String]): Boolean = {
    val staticForwarder = m.isStatic && !m.owner.endsWith("$") &&
      m.calls.exists(r => r.owner == m.owner + "$" && r.name == m.name)
    val mixinForwarder = m.calls.exists(r => r.name == m.name + "$")
    val caseCopy = caseClasses(m.owner) && (m.name == "copy" || m.name.startsWith("copy$default$"))
    val caseApply = m.name == "apply" && caseClasses(m.owner.stripSuffix("$")) &&
      m.calls.exists(r => r.owner == m.owner.stripSuffix("$") && r.name == "<init>")
    val bridge = (m.access & Opcodes.ACC_BRIDGE) != 0
    staticForwarder || mixinForwarder || caseCopy || caseApply || bridge
  }

  /** Every default-argument slot declared in the classes under `declaring`,
    * with its call sites counted over those classes and the ones under
    * `others`. */
  def slots(declaring: File, others: Seq[File]): Seq[Slot] = {
    val (declared, declSupers) = scan(Seq(declaring))
    val (rest, restSupers) = scan(others)
    val byClass = declared ++ rest
    val supers = declSupers ++ restSupers
    // a case class: it has `copy` and its companion has `unapply`
    val caseClasses = byClass.keySet.filter(c => byClass(c).exists(_.name == "copy") &&
      byClass.get(c + "$").exists(_.exists(_.name == "unapply")))
    val callers = byClass.values.flatten.toSeq.filterNot(generated(_, caseClasses))
    def ancestors(c: String): Set[String] =
      Set(c) ++ supers.getOrElse(c, Nil).flatMap(ancestors)
    // a call names the class it was compiled against: the declaring owner,
    // a subclass of it, or a module's static class (`X` for `X$`)
    val family = mutable.Map.empty[String, Set[String]]
    val byName = callers.flatMap(_.calls).groupBy(_.name)
    def countCalls(owner: String, name: String): Int =
      byName.getOrElse(name, Nil).count(r =>
        family.getOrElseUpdate(r.owner, ancestors(r.owner) + (r.owner + "$"))(owner))
    def slot(owner: String, method: String, n: Int, calls: Int, taken: Int): Slot = {
      val param = byClass.getOrElse(owner, Nil).find(m => m.name == method &&
        Type.getArgumentTypes(m.desc).length >= n).map(paramName(_, n)).getOrElse("?")
      Slot(owner, method, n, param, calls, taken)
    }

    callers.filter(g => declared.contains(g.owner)).flatMap { g =>
      val cls = g.owner.stripSuffix("$")
      val isCase = caseClasses(cls)
      g.name match {
        // a lambda inside a default getter is not a getter
        case Getter(base, _, _) if base.startsWith("$anonfun$") => None
        // a case class's `apply` default is its constructor's slot
        case Getter("apply", _, _) if isCase => None
        case Getter("$lessinit$greater", n, _) =>
          // `new C(...)` and, for a case class, `C(...)` reach the constructor
          def viaApply(name: String) = if (isCase) countCalls(g.owner, name) else 0
          Some(slot(cls, "<init>", n.toInt,
            countCalls(cls, "<init>") + viaApply("apply"),
            countCalls(g.owner, g.name) + viaApply(s"apply$$default$$$n")))
        case Getter(base, n, local) =>
          Some(slot(g.owner, base + local, n.toInt,
            countCalls(g.owner, base + local), countCalls(g.owner, g.name)))
        case _ => None
      }
    }.sortBy(_.label)
  }

  private def paramName(m: MethodInfo, n: Int): String = {
    val args = Type.getArgumentTypes(m.desc)
    val first = if (m.isStatic) 0 else 1
    val slot = first + args.take(n - 1).map(_.getSize).sum
    m.locals.getOrElse(slot, s"arg$n")
  }
}
