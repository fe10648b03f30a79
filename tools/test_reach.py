"""Tests of the method-level reachability walk: python3 -m unittest discover tools

Each case feeds `reach.parse` a canned `javap -c -p -v` listing and pins one
way the walk can read reached code as dead.
"""
import unittest

import reach

# graft.Bench$ is the root; graft.Ops$ is an object it calls into; graft.Dead
# is a class nothing references.
JAVAP = """\
Classfile /classes/graft/Bench$.class
  Last modified Jan 1, 2026; size 100 bytes
  Compiled from "Bench.scala"
public final class graft.Bench$
  minor version: 0
  major version: 52
Constant pool:
   #1 = Utf8               graft/Bench$
{
  public static final graft.Bench$ MODULE$;
    descriptor: Lgraft/Bench$;
    flags: (0x0019) ACC_PUBLIC, ACC_STATIC, ACC_FINAL

  public void main(java.lang.String[]);
    descriptor: ([Ljava/lang/String;)V
    flags: (0x0001) ACC_PUBLIC
    Code:
         0: getstatic     #7                  // Field graft/Ops$.MODULE$:Lgraft/Ops$;
         3: invokevirtual #11                 // Method graft/Ops$.run:()V
         6: return
}
SourceFile: "Bench.scala"
Classfile /classes/graft/Ops$.class
  Compiled from "Ops.scala"
public final class graft.Ops$
  minor version: 0
{
  public static final graft.Ops$ MODULE$;
    descriptor: Lgraft/Ops$;
    flags: (0x0019) ACC_PUBLIC, ACC_STATIC, ACC_FINAL

  private static final java.lang.String oracle;
    descriptor: Ljava/lang/String;

  public static {};
    descriptor: ()V
    flags: (0x0009) ACC_PUBLIC, ACC_STATIC
    Code:
         0: new           #2                  // class graft/Ops$
         3: dup
         4: invokespecial #21                 // Method "<init>":()V
         7: putstatic     #23                 // Field MODULE$:Lgraft/Ops$;
        10: getstatic     #23                 // Field MODULE$:Lgraft/Ops$;
        13: invokevirtual #27                 // Method buildOracle:()Ljava/lang/String;
        16: putstatic     #29                 // Field oracle:Ljava/lang/String;
        19: return

  public void run();
    descriptor: ()V
    flags: (0x0001) ACC_PUBLIC
    Code:
         0: aload_0
         1: invokevirtual #33                 // Method helper:()V
         4: invokedynamic #40,  0             // InvokeDynamic #0:apply$mcI$sp:()Lscala/runtime/java8/JFunction0$mcI$sp;
         9: return

  public java.lang.String buildOracle();
    descriptor: ()Ljava/lang/String;
    flags: (0x0001) ACC_PUBLIC
    Code:
         0: ldc           #45                 // String SELECT 1
         2: areturn

  public void helper();
    descriptor: ()V
    flags: (0x0001) ACC_PUBLIC
    Code:
         0: return

  public static final int $anonfun$run$1();
    descriptor: ()I
    flags: (0x1019) ACC_PUBLIC, ACC_STATIC, ACC_FINAL, ACC_SYNTHETIC
    Code:
         0: getstatic     #23                 // Field MODULE$:Lgraft/Ops$;
         3: invokevirtual #50                 // Method lambdaOnly:()I
         6: ireturn

  public int lambdaOnly();
    descriptor: ()I
    flags: (0x0001) ACC_PUBLIC
    Code:
         0: iconst_1
         1: ireturn

  public void unused();
    descriptor: ()V
    flags: (0x0001) ACC_PUBLIC
    Code:
         0: return

  private graft.Ops$();
    descriptor: ()V
    flags: (0x0002) ACC_PRIVATE
    Code:
         0: aload_0
         1: invokespecial #1                  // Method java/lang/Object."<init>":()V
         4: return
}
SourceFile: "Ops.scala"
BootstrapMethods:
  0: #60 REF_invokeStatic java/lang/invoke/LambdaMetafactory.altMetafactory:(Ljava/lang/invoke/MethodHandles$Lookup;Ljava/lang/String;Ljava/lang/invoke/MethodType;[Ljava/lang/Object;)Ljava/lang/invoke/CallSite;
    Method arguments:
      #61 ()I
      #62 REF_invokeStatic graft/Ops$.$anonfun$run$1:()I
      #61 ()I
      #63 5
      #64 0
InnerClasses:
  public static final #70= #2 of #71;
Classfile /classes/graft/Dead.class
  Compiled from "Dead.scala"
public class graft.Dead
  minor version: 0
{
  public graft.Dead();
    descriptor: ()V
    Code:
         0: return
}
SourceFile: "Dead.scala"
"""


def unreached():
    classes = reach.parse(JAVAP)
    roots = [c for c in classes if reach.top(c) == "graft.Bench"]
    return reach.unreached(classes, *reach.reach(classes, roots))


class Walk(unittest.TestCase):
    def test_listing_names_only_the_dead(self):
        self.assertEqual(unreached(), ["graft.Dead", "graft.Ops.unused"])

    def test_same_class_call_without_owner_reaches(self):
        # `// Method helper:()V` names no owner: it is the printed class
        self.assertNotIn("graft.Ops.helper", unreached())

    def test_lambda_body_reached_through_bootstrap_methods(self):
        # run's invokedynamic names bootstrap #0, whose handle is the
        # $anonfun body; only that body calls lambdaOnly
        self.assertNotIn("graft.Ops.lambdaOnly", unreached())

    def test_static_initializer_of_a_reached_object_counts(self):
        # `public static {};` is where an object's vals call their builders
        self.assertNotIn("graft.Ops.buildOracle", unreached())


if __name__ == "__main__":
    unittest.main()
