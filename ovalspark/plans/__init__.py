from ovalspark.plans.plan import Constraint, Pass, ValidationPlan, default_plan, single  # noqa: F401
from ovalspark.plans.manifest import Manifest  # noqa: F401
from ovalspark.plans.runner import RunResult, run_plan  # noqa: F401
