from iq_to_hdl_migration_spark.ddl.rules import (  # noqa: F401
    BASE_RULES, CommentRule, LineCommentRule, ReplaceRule, compile_rules)
from iq_to_hdl_migration_spark.ddl.engine import (  # noqa: F401
    RewriteResult, rewrite)
