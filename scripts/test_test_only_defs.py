"""Unit tests for test_only_defs.py on small Scala trees written to a temp dir."""
import os
import sys
import tempfile
import textwrap
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import test_only_defs  # noqa: E402


class Tree:
    """A repository root with Scala files under src/main, src/test and
    perfbench/src."""

    def __init__(self, files):
        self.dir = tempfile.TemporaryDirectory()
        for path, text in files.items():
            full = os.path.join(self.dir.name, path)
            os.makedirs(os.path.dirname(full), exist_ok=True)
            with open(full, "w") as f:
                f.write(textwrap.dedent(text))

    def listed(self):
        """{qualified name: round} of every listed declaration."""
        rounds = test_only_defs.scan(self.dir.name)
        return {d.qualified(): i + 1 for i, found in enumerate(rounds) for d in found}


MAIN = "src/main/scala/graft/"


class Strip(unittest.TestCase):
    def test_comments_go_strings_stay_offsets_kept(self):
        text = 'val u = "file://x" // helper()\n/** [[helper]] /* nested */ */ go()\n'
        code, skel = test_only_defs.strip(text)
        self.assertEqual(len(code), len(text))
        self.assertEqual(code.count("\n"), text.count("\n"))
        self.assertIn('"file://x"', code)
        self.assertNotIn("helper", code)
        self.assertIn("go()", code)
        self.assertNotIn("file", skel)

    def test_char_literals_and_triple_quotes(self):
        code, skel = test_only_defs.strip("val q = '\"'\nval s = \"\"\"a \" b\"\"\" // c\n")
        self.assertNotIn("// c", code)
        self.assertIn('"""a " b"""', code)
        self.assertNotIn("a \" b", skel)


class Scan(unittest.TestCase):
    def test_spec_only_def_is_listed_main_called_is_not(self):
        t = Tree({
            MAIN + "A.scala": """\
                package graft
                object A {
                  def used(x: Int): Int = x + 1
                  def specOnly(x: Int): Int = x * 2
                }
                """,
            MAIN + "B.scala": """\
                package graft
                object B {
                  def main(args: Array[String]): Unit = println(A.used(1))
                }
                """,
            "src/test/scala/graft/ASpec.scala": "object ASpec { A.specOnly(2) }\n",
        })
        self.assertEqual(t.listed(), {"A.specOnly": 1})

    def test_a_scaladoc_link_is_not_a_caller(self):
        t = Tree({MAIN + "A.scala": """\
            package graft
            object A {
              /** Like [[helper]], but twice. */
              def twice(x: Int): Int = x * 2
              def helper(x: Int): Int = x
              def main(args: Array[String]): Unit = println(twice(1))
            }
            """})
        self.assertEqual(t.listed(), {"A.helper": 1})

    def test_helpers_of_a_listed_def_follow_in_later_rounds(self):
        t = Tree({MAIN + "A.scala": """\
            package graft
            object A {
              final case class Spec(n: Int)
              def top(s: Spec): Int = middle(s.n)
              def middle(n: Int): Int =
                leaf(n) + 1
              def leaf(n: Int): Int = n
              def main(args: Array[String]): Unit = println(Spec(1))
            }
            """})
        self.assertEqual(t.listed(), {"A.top": 1, "A.middle": 2, "A.leaf": 3})

    def test_perfbench_counts_as_a_caller(self):
        t = Tree({
            MAIN + "A.scala": "package graft\nobject A {\n  def timed(): Long = 1L\n}\n",
            "perfbench/src/main/scala/graft/perfbench/P.scala":
                "package graft.perfbench\nobject P {\n  def main(a: Array[String]): Unit = graft.A.timed()\n}\n",
        })
        self.assertEqual(t.listed(), {})

    def test_same_name_in_another_object_is_not_a_caller(self):
        t = Tree({
            MAIN + "Dedup.scala": """\
                package graft
                object Dedup {
                  def fuzzy(n: Int): Int = n
                }
                """,
            MAIN + "Examples.scala": """\
                package graft
                object Examples {
                  def fuzzy(n: Int): Int = n
                }
                """,
            MAIN + "Gate.scala": """\
                package graft
                object Gate {
                  def main(a: Array[String]): Unit = println(Dedup.fuzzy(1))
                }
                """,
        })
        self.assertEqual(t.listed(), {"Examples": 1, "Examples.fuzzy": 1})

    def test_hidden_local_and_library_members_are_not_judged(self):
        t = Tree({MAIN + "A.scala": """\
            package graft
            import org.apache.spark.sql.expressions.Aggregator
            trait Stage { def name: String }
            object A {
              private def secret(): Int = 1
              override def toString: String = "A"
              implicit def conv(x: Int): Long = x.toLong
              def apply(x: Int): Int = {
                def local(y: Int): Int = y
                local(x) + secret()
              }
              val gates = Seq(1).map { i =>
                def inVal(j: Int): Int = j
                inVal(i)
              }
              object Mean extends Aggregator[Double, Double, Double] {
                def zero: Double = 0.0
              }
              val s = new Stage { def name = "s" }
              def main(args: Array[String]): Unit = println(A(1) + s.name + Mean)
            }
            """})
        self.assertEqual(t.listed(), {})

    def test_a_declaration_name_is_not_a_call_of_its_namesake(self):
        t = Tree({
            MAIN + "Bpe.scala": "package graft\nobject Bpe {\n  def save(): Unit = ()\n}\n",
            MAIN + "Unigram.scala": """\
                package graft
                object Unigram {
                  val shape = Bpe
                  def save(): Unit = ()
                }
                """,
            MAIN + "M.scala": "package graft\nobject M {\n  def main(a: Array[String]): Unit = println(Unigram.shape)\n}\n",
        })
        self.assertEqual(t.listed(), {"Bpe.save": 1, "Unigram.save": 1})


if __name__ == "__main__":
    unittest.main()
