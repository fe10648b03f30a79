#!/usr/bin/env python3
"""src/main code that no entry point reaches.

    sbt compile && python3 tools/reach.py [classes_dir]

Walks the `javap -c -p -v` call graph of the compiled main classes
(default `target/scala-2.13/classes`) from the five mains (`Verify`,
`Bench`, `QueryProbe`, `Serve`, `Demo`) and `SparkEntry`, every method of
each root included. Prints, one per line:

  - each top-level class (the name before the first `$`) none of whose
    classes was reached, and
  - each unreached member of a reached Scala `object` (`Class.method`).

Rules:
  - a call into an `object` (a module class, one with a static `MODULE$`)
    reaches the method of that owner and name, every overload of it;
  - lambda bodies are reached through the `BootstrapMethods` entry an
    `invokedynamic` names;
  - a reached class reaches its `static {}` initializer and constructor,
    which is where an object's `val` maps call their builders;
  - any other class reached keeps all of its instance methods, because
    Spark dispatches into `Expression` subclasses virtually;
  - a call to a method of a graft supertype also reaches the method of
    that name in each reached subtype (an `object` implementing a trait).

Members the compiler writes for a case class's companion (`apply`,
`unapply`, `toString`, ...) and synthetic `$` names are not listed. The
`org.apache.spark.sql.Graft*Shim` classes live in the same directory, so
calls into them count like any other. A member reached only by
reflection, or only by a virtual call from library code into an
`object`, would show here too, as would the getter of a constant `final
val` the compiler inlines.
"""
import collections
import glob
import os
import re
import subprocess
import sys

ROOTS = {"graft." + n for n in
         ("Verify", "Bench", "QueryProbe", "Serve", "Demo", "SparkEntry")}

# an instruction's constant-pool comment; the owner is left out when it is
# the class being printed. A field access reaches only the field's class.
REF = re.compile(r'// (?:Method|InterfaceMethod) (?:([\w/$]+)\.)?'
                 r'"?([\w$<>]+)"?:')
CLASS = re.compile(r'// (?:class|Field) ([\w/$]+?)(?:\.[\w$]+:|$)')
INDY = re.compile(r'// InvokeDynamic #(\d+):')
HANDLE = re.compile(r'REF_\w+ ([\w/$]+)\."?([\w$<>]+)"?:')
HEADER = re.compile(r'^[\w ]*?(?:class|interface) ([\w.$]+)(.*)$')
GRAFT_TYPE = re.compile(r'\b((?:graft|org\.apache\.spark\.sql)\.[\w.$]+)')

# members the compiler writes for a case class's companion or a case object
CASE_SYNTHETIC = {"apply", "unapply", "toString", "hashCode", "equals",
                  "canEqual", "productArity", "productElement",
                  "productElementName", "productIterator", "productPrefix"}

Klass = collections.namedtuple("Klass", "module supers methods bootstraps")
# methods: name -> [static?, set of (owner, name) calls, set of classes,
#                   set of bootstrap indexes]


def top(name):
    return name.split("$", 1)[0]


def parse(text):
    """javap -c -p -v output -> {class name: Klass}."""
    classes = {}
    k = name = cur = None
    section = None
    for line in text.splitlines():
        if line.startswith("Classfile "):
            k = name = cur = None
            section = "head"
            continue
        if section == "head":
            m = HEADER.match(line)
            if m and not line.startswith(" "):
                name = m.group(1)
                supers = set(GRAFT_TYPE.findall(m.group(2))) - {name}
                k = classes[name] = Klass(False, supers, {}, {})
            elif line == "{":
                section = "members"
            continue
        if section == "members":
            if line == "}":
                section = "tail"
            elif line.startswith("  ") and not line.startswith("   "):
                decl = line.strip()
                if decl.endswith(" MODULE$;") and " static " in " " + decl:
                    classes[name] = k = k._replace(module=True)
                if not decl.endswith(";") or "(" not in decl and "{}" not in decl:
                    cur = None
                    continue
                if "{}" in decl:
                    mname, static = "<clinit>", True
                else:
                    head = decl.split("(", 1)[0].split()
                    mname = head[-1]
                    if mname == name:
                        mname = "<init>"
                    static = "static" in head[:-1]
                cur = k.methods.setdefault(mname, [True, set(), set(), set()])
                cur[0] = cur[0] and static
            elif cur is not None:
                for owner, mname in REF.findall(line):
                    owner = owner.replace("/", ".") if owner else name
                    cur[1].add((owner, mname))
                for c in CLASS.findall(line):
                    cur[2].add(c.replace("/", "."))
                for i in INDY.findall(line):
                    cur[3].add(int(i))
            continue
        if section == "tail":
            if line == "BootstrapMethods:":
                section = "bootstrap"
            continue
        if section == "bootstrap":
            m = re.match(r"  (\d+): ", line)
            if m:
                idx = int(m.group(1))
                k.bootstraps[idx] = set()
            elif line.startswith("    "):
                for owner, mname in HANDLE.findall(line):
                    k.bootstraps[idx].add((owner.replace("/", "."), mname))
            else:
                section = "tail"
    return classes


def reach(classes, roots):
    """-> (reached classes, reached (class, method) pairs)."""
    seen_c, seen_m = set(), set()
    todo = []
    subs = collections.defaultdict(set)
    for c, k in classes.items():
        for s in k.supers:
            subs[s].add(c)

    def closure(c, edges):
        out, stack = set(), [c]
        while stack:
            for n in edges(stack.pop()) - out:
                out.add(n)
                stack.append(n)
        return out

    def ancestors(c):
        return closure(c, lambda x: classes[x].supers if x in classes else set())

    called = collections.defaultdict(set)  # class -> method names reached

    def add_method(c, m):
        if (c, m) not in seen_m:
            seen_m.add((c, m))
            called[c].add(m)
            todo.append((c, m))

    def add_class(c):
        if c in seen_c or c not in classes:
            return
        seen_c.add(c)
        k = classes[c]
        for s in k.supers:
            add_class(s)
        add_method(c, "<clinit>")
        add_method(c, "<init>")
        # a virtual call into a supertype dispatches here too
        for a in ancestors(c):
            for m in list(called[a]):
                if not m.startswith("<"):
                    add_method(c, m)
        if not k.module:
            for m, (static, _, _, _) in k.methods.items():
                if not static:
                    add_method(c, m)

    for c in roots:
        add_class(c)
        for m in classes[c].methods:
            add_method(c, m)
    while todo:
        c, m = todo.pop()
        if c not in classes:
            continue
        add_class(c)
        k = classes[c]
        if not m.startswith("<"):
            for sub in closure(c, lambda x: subs[x]) & seen_c:
                add_method(sub, m)
        if m not in k.methods:
            # inherited: resolve into the supertypes that live here
            for s in k.supers:
                add_method(s, m)
            continue
        _, calls, refs, indys = k.methods[m]
        for owner, name in calls:
            add_method(owner, name)
        for r in refs:
            add_class(r)
        for i in indys:
            for owner, name in k.bootstraps.get(i, ()):
                add_method(owner, name)
    return seen_c, seen_m


def member_name(m):
    # a private def used from another class is compiled as `pkg$Cls$$name`
    return m.rsplit("$$", 1)[-1]


def unreached(classes, seen_c, seen_m):
    reached_tops = {top(c) for c in seen_c}
    out = sorted({top(c) for c in classes} - reached_tops)
    members = set()
    for c, k in classes.items():
        if not k.module or c not in seen_c:
            continue
        for m in k.methods:
            name = member_name(m)
            if (c, m) in seen_m or "$" in name or name.startswith("<"):
                continue
            if name == "writeReplace":
                continue
            # a case class (or case object) defines productPrefix
            case = any("productPrefix" in x.methods
                       for x in (k, classes.get(c[:-1])) if x)
            if case and name in CASE_SYNTHETIC:
                continue
            members.add(c.rstrip("$").replace("$", ".") + "." + name)
    return out + sorted(members)


def javap(classes_dir):
    files = sorted(glob.glob(os.path.join(classes_dir, "**", "*.class"),
                             recursive=True))
    out = []
    for i in range(0, len(files), 200):
        out.append(subprocess.run(["javap", "-c", "-p", "-v"] + files[i:i + 200],
                                  check=True, capture_output=True,
                                  text=True).stdout)
    return "\n".join(out)


def main():
    classes_dir = sys.argv[1] if len(sys.argv) > 1 else "target/scala-2.13/classes"
    classes = parse(javap(classes_dir))
    roots = [c for c in classes if top(c) in ROOTS]
    seen_c, seen_m = reach(classes, roots)
    for line in unreached(classes, seen_c, seen_m):
        print(line)


if __name__ == "__main__":
    main()
