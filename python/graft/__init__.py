"""Python on-ramp for the graft Spark library.

The reference engine is consumed from Python (see the reference's
tests/test_toy.py): ``make_world``, ``Component`` subclasses with typed
fields, ``@processor`` update rules, ``world.spawn/step/get_history``.
This module exposes the same surface on top of PySpark's py4j gateway:
every call lands on ``graft.ecs.PyBridge`` in the JVM, and all data
stays in the JVM — Python only declares schemas, spawns entities, and
receives PySpark DataFrames.

Usage (see example_toy.py for the full runnable script)::

    from graft import session, Component, World, sql_processor

    spark = session(jar="target/scala-2.13/<graft jar>")

    class Position(Component):
        x: float
        y: float

    world = World.make(spark, simulation="toy")
    world.add_processor(sql_processor(
        "Movement", [Position, Velocity],
        {"position__x": "position__x + velocity__vx * {dt}"}))
    world.spawn(Position(x=0.0, y=0.0), Velocity(vx=1.0, vy=1.0))
    world.step(dt=0.1)
    hist = world.get_history(Position)   # {hash: pyspark DataFrame}

Requires: pyspark matching the Scala build (4.x / Scala 2.13) and the
graft jar (``sbt package``) on the driver classpath — ``session(jar=…)``
handles that, or pass ``--jars`` to spark-submit.
"""

import json

from pyspark.sql import DataFrame, SparkSession

_PY_TO_SPARK = {
    float: "double",
    int: "long",
    str: "string",
    bool: "boolean",
    bytes: "binary",
    "float": "double",
    "int": "long",
    "str": "string",
    "bool": "boolean",
    "bytes": "binary",
}

# Canonical field-type name for annotations declared as either the
# type object (``x: float``) or a string (``x: "float"``).
_TYPE_NAME = {
    float: "float", int: "int", str: "str", bool: "bool", bytes: "bytes",
    "float": "float", "int": "int", "str": "str", "bool": "bool",
    "bytes": "bytes",
}


class ValidationError(TypeError):
    """Field-level spawn validation failure (the reference components
    are pydantic ``LanceModel`` subclasses, so bad field values fail at
    construction with per-field messages — this mirrors that contract).
    ``errors`` is a list of ``(field, message)`` pairs."""

    def __init__(self, cls_name, errors):
        self.errors = list(errors)
        lines = [f"{len(self.errors)} validation error"
                 f"{'s' if len(self.errors) != 1 else ''} for {cls_name}"]
        for field, msg in self.errors:
            lines.append(f"{field}\n  {msg}")
        super().__init__("\n".join(lines))


def _coerce(tp, v):
    """Validate + coerce one value to its annotated field type,
    pydantic-v2-lax style: int→float, integral float→int, numeric
    strings→numbers, "true"/"false"/0/1→bool, str/bytearray→bytes.
    Returns the coerced value or raises ValueError(message).

    Deliberate deltas from pydantic v2's lax mode (narrower and more
    predictable for a storage schema):
      - bool accepts only "true"/"false" (any case) and 0/1 — not the
        wider "yes"/"no"/"on"/"off"/"y"/"n"/"t"/"f" family.
      - int rejects integral NUMERIC STRINGS with a decimal point
        ("3.0"): a string field that looks like a float is treated as
        a float mistake, not an int.
      - float accepts "inf"/"-inf"/"nan" strings (Python float()
        semantics); pydantic rejects non-finite strings by default.
    """
    name = _TYPE_NAME.get(tp)
    if name is None:
        # Unsupported annotation: let it through — _schema_json raises
        # the clear "unsupported type" error for it at registration.
        return v
    if name == "float":
        if isinstance(v, bool) or not isinstance(v, (int, float, str)):
            raise ValueError(_bad("a valid number", v))
        try:
            return float(v)
        except ValueError:
            raise ValueError(_bad("a valid number", v))
    if name == "int":
        if isinstance(v, bool):
            raise ValueError(_bad("a valid integer", v))
        if isinstance(v, int):
            return v
        if isinstance(v, float):
            if v.is_integer():
                return int(v)
            raise ValueError(_bad(
                "a valid integer, got a float with a fractional part", v))
        if isinstance(v, str):
            try:
                return int(v)
            except ValueError:
                raise ValueError(_bad("a valid integer", v))
        raise ValueError(_bad("a valid integer", v))
    if name == "str":
        if isinstance(v, str):
            return v
        raise ValueError(_bad("a valid string", v))
    if name == "bool":
        if isinstance(v, bool):
            return v
        if isinstance(v, int) and v in (0, 1):
            return bool(v)
        if isinstance(v, str) and v.lower() in ("true", "false"):
            return v.lower() == "true"
        raise ValueError(_bad("a valid boolean", v))
    if name == "bytes":
        if isinstance(v, bytes):
            return v
        if isinstance(v, bytearray):
            return bytes(v)
        if isinstance(v, str):
            return v.encode("utf-8")
        raise ValueError(_bad("valid bytes", v))
    raise ValueError(_bad(name, v))


def _bad(expected, v):
    return (f"Input should be {expected} "
            f"[input_value={v!r}, type={type(v).__name__}]")


def session(jar=None, master=None, app_name="graft"):
    """Build a SparkSession with the graft surface installed: the
    settings and surface come from ``Graft.session`` on the JVM, so a
    Python session plans like every oracle-checked JVM session.

    The builder sets only what must exist before the JVM starts: the
    classpath, master, app name, ``spark.ui.enabled`` and the local file
    system that does not start a ``chmod``/``readlink`` process per
    file operation.

    ``jar``: path to the graft jar (or a classes directory); required
    unless the classpath already carries graft.
    """
    import os

    master = master or f"local[{os.cpu_count() or 4}]"
    b = SparkSession.builder.appName(app_name).master(master)
    if jar:
        jar = os.path.abspath(jar)
        b = b.config("spark.driver.extraClassPath", jar).config(
            "spark.executor.extraClassPath", jar)
    spark = (
        b.config("spark.ui.enabled", "false")
        .config("spark.hadoop.fs.file.impl", "graft.NioLocalFileSystem")
        .config("spark.hadoop.fs.AbstractFileSystem.file.impl", "graft.NioLocalFs")
        .getOrCreate()
    )
    spark._jvm.graft.Graft.session(master, app_name)
    return spark


def install(spark):
    """Retrofit graft onto an existing PySpark session: native as-of
    join planning + the ``graft_*`` SQL function registry. Idempotent
    (the JVM side is ``Graft.install``)."""
    spark._jvm.graft.Graft.install(spark._jsparkSession)


class Component:
    """Subclass with class-level type annotations to declare a
    component (the reference's ``Component(LanceModel)`` shape)::

        class Position(Component):
            x: float
            y: float

    Instances are plain keyword bags: ``Position(x=0.0, y=1.0)``.
    Columns in archetype tables are prefixed ``<name lowercased>__``,
    exactly as in the Scala/Reference convention.
    """

    def __init__(self, **kwargs):
        types = self.field_types()
        errors = [(f, "Field required") for f in types if f not in kwargs]
        errors += [(k, "Unexpected keyword argument")
                   for k in kwargs if k not in types]
        for k, v in kwargs.items():
            if k not in types:
                continue
            try:
                setattr(self, k, _coerce(types[k], v))
            except ValueError as e:
                errors.append((k, str(e)))
        if errors:
            raise ValidationError(type(self).__name__, errors)

    @classmethod
    def field_names(cls):
        return list(cls.field_types())

    @classmethod
    def field_types(cls):
        """Ordered {field: annotated type} across the MRO."""
        types = {}
        for klass in reversed(cls.__mro__):
            types.update(getattr(klass, "__annotations__", {}))
        return types

    @classmethod
    def _schema_json(cls):
        fields = []
        for klass in reversed(cls.__mro__):
            for name, tp in getattr(klass, "__annotations__", {}).items():
                try:
                    spark_type = _PY_TO_SPARK[tp]
                except KeyError:
                    raise TypeError(
                        f"{cls.__name__}.{name}: unsupported type {tp!r}; "
                        f"use one of {sorted(set(_PY_TO_SPARK) - set(map(str, _PY_TO_SPARK)))}")
                fields.append({"name": name, "type": spark_type,
                               "nullable": False, "metadata": {}})
        return json.dumps({"type": "struct", "fields": fields})

    @classmethod
    def _jmeta(cls, spark):
        return spark._jvm.graft.ecs.PyBridge.meta(
            cls.__name__, cls._schema_json())

    def _values(self):
        return [getattr(self, f) for f in self.field_names()]


def _bridge(spark):
    return spark._jvm.graft.ecs.PyBridge


_STEP_POOL = None


def _step_pool():
    """Shared executor for World.step_async — sized for concurrent
    simulations, not data parallelism (the data parallelism lives in
    the Spark jobs each step launches)."""
    global _STEP_POOL
    if _STEP_POOL is None:
        import concurrent.futures
        _STEP_POOL = concurrent.futures.ThreadPoolExecutor(
            max_workers=8, thread_name_prefix="graft-step")
    return _STEP_POOL


def query_names(spark):
    """Names of every built-in graft operator (SparkEntry registry)."""
    return list(_bridge(spark).queryNames())


def run_query(spark, name, sf_dir):
    """Run a built-in graft operator by name against a parquet store
    directory; returns a PySpark DataFrame. Example::

        run_query(spark, "q1_agg", "/root/testdata/sf0.001").show()
    """
    return DataFrame(_bridge(spark).runQuery(
        spark._jsparkSession, name, sf_dir), spark)


def sql_processor(name, components, updates, priority=0):
    """An update rule as a dict of column -> SQL expression; ``{dt}``
    in an expression substitutes the step's dt. This is how Python
    declares the reference's ``@processor`` logic — the expressions
    compile to codegen'd Catalyst plans, never a per-row Python call.
    """
    return _SqlProcessorSpec(name, components, updates, priority)


class _SqlProcessorSpec:
    def __init__(self, name, components, updates, priority):
        self.name = name
        self.components = components
        self.updates = updates
        self.priority = priority

    def _jproc(self, spark):
        jmetas = [c._jmeta(spark) for c in self.components]
        return _bridge(spark).sqlProcessor(
            self.name, jmetas, self.priority, self.updates)


class World:
    """Python handle over ``graft.ecs.World`` (reference: make_world)."""

    def __init__(self, spark, jworld):
        self._spark = spark
        self._jworld = jworld

    @classmethod
    def make(cls, spark, simulation="sim_py", run="run_0",
             optimize_interval=4):
        jworld = _bridge(spark).makeWorld(
            spark._jsparkSession, simulation, run, optimize_interval)
        return cls(spark, jworld)

    def spawn(self, *components):
        jmetas = [c._jmeta(self._spark) for c in components]
        values = [c._values() for c in components]
        return _bridge(self._spark).spawn(self._jworld, jmetas, values)

    def add_processor(self, proc_spec):
        _bridge(self._spark).addProcessor(
            self._jworld, proc_spec._jproc(self._spark))

    def step(self, dt=1.0):
        self._jworld.step(float(dt))

    def step_eager(self, dt=1.0):
        """One step with per-archetype updates materialized as
        CONCURRENT Spark jobs (``World.stepEager`` — wall time is the
        processor DAG's critical path, state identical to ``step``;
        the engine's A18 query audits that equality on the store)."""
        self._jworld.stepEager(float(dt))

    def step_async(self, dt=1.0):
        """The reference's ``async def step`` shape (world.py:23):
        returns a ``concurrent.futures.Future`` so MANY worlds step
        concurrently from Python — each future drives its own JVM-side
        eager step (Spark schedules the jobs in parallel; py4j calls
        are thread-safe, one connection per thread). ``.result()``
        joins the step::

            fs = [w.step_async(0.1) for w in worlds]
            for f in fs: f.result()
        """
        return _step_pool().submit(self.step_eager, dt)

    @property
    def current_step(self):
        return self._jworld.currentStep()

    def _wrap(self, jmap):
        return {e: DataFrame(jmap[e], self._spark)
                for e in jmap.keySet().toArray()}

    def query(self, *component_classes):
        """Live state of every archetype carrying all the given
        components, keyed by archetype hash -> PySpark DataFrame."""
        jmetas = [c._jmeta(self._spark) for c in component_classes]
        return self._wrap(_bridge(self._spark).query(self._jworld, jmetas))

    def get_history(self, *component_classes):
        """Full step history, keyed by archetype hash."""
        jmetas = [c._jmeta(self._spark) for c in component_classes]
        return self._wrap(_bridge(self._spark).history(self._jworld, jmetas))
